package graft.sink

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Table maintenance + snapshot reads over the commit log — the lake
  * operations an Iceberg user relies on, re-expressed over the
  * emulated log (SURVEY.md §7 sink note):
  *
  *  - snapshot-isolated reads and time travel (`readTable` /
  *    `readSnapshot`) resolve the live file set through the log, never
  *    the directory listing;
  *  - `compact` rewrites the current live set into one file per
  *    partition directory (the antidote to the reference's
  *    file-per-(input × partition) fragmentation, Q6) as a `rewrite`
  *    snapshot — readers at older snapshots still see the old files;
  *  - `expireSnapshots` deletes data files unreachable from the kept
  *    snapshots (the GC half of Iceberg's `expire_snapshots`).
  */
object LakeOps {

  /** Read live files (paths relative to `tableDir`) with the snapshot's
    * table schema from the log — no footer read and no inference job;
    * a file written before an ADD-COLUMN reads the column as null, and
    * a partition column reads as the directory string it was written
    * as (basePath keeps the partition columns when reading explicit
    * files; Spark infers only one the schema lacks, as in the older
    * data-only format). A log holding a schema-less record falls back
    * to Spark's own union-of-footers inference.
    *
    * No live files (a full-table DELETE, or a table with no commits)
    * read as an empty frame of the schema; a table with no commits has
    * the empty schema, so it reads as the 0-column frame.
    */
  private def readLive(spark: SparkSession, tableDir: String,
      files: Seq[String], schema: Option[StructType]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.List.of[Row](), schema.getOrElse(new StructType()))
    else {
      val base = spark.read.option("basePath", tableDir)
      schema.fold(base.option("mergeSchema", "true"))(base.schema)
        .parquet(files.map(f => s"$tableDir/$f"): _*)
    }

  private def readLive(spark: SparkSession, tableDir: String, live: GraftLog.Live): DataFrame =
    readLive(spark, tableDir, live.files, live.schema)

  /** Current table state (snapshot-isolated: ignores files on disk that
    * are not in the live set).
    */
  def readTable(spark: SparkSession, tableDir: String): DataFrame =
    readLive(spark, tableDir, GraftLog.fold(GraftLog.records(tableDir)))

  /** Time travel: the table as of `snapshotId`.
    *
    * The snapshot's record carries the table schema as of that commit,
    * so ADD-COLUMN evolution is observable the way Iceberg exposes it:
    * rows written before the column existed read as null, while a
    * snapshot that predates the column keeps the narrow schema (time
    * travel travels the schema too).
    */
  def readSnapshot(spark: SparkSession, tableDir: String, snapshotId: Long): DataFrame =
    readLive(spark, tableDir, GraftLog.fold(GraftLog.records(tableDir), Some(snapshotId)))

  /** Incremental append scan: rows committed AFTER snapshot
    * `fromExclusive` up to and including `toInclusive` — Iceberg's
    * incremental-from-snapshot read, the consumer side of a CDC
    * pipeline (downstream jobs process only the delta, never rescan
    * history — the read-side twin of q_incr_agg's mergeable-state
    * refresh). Defined over APPEND-ONLY ranges exactly as Iceberg
    * defines it: a rewrite/overwrite/delete inside the range re-binds
    * rows to files, so "files added in range" stops meaning "rows added
    * in range" — refuse loudly rather than emit wrong deltas. Ranges
    * that start at or after the rewrite work again (its appends are
    * deltas as usual). The delta reads with the table schema as of
    * `toInclusive`.
    */
  def readIncremental(spark: SparkSession, tableDir: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val all = GraftLog.records(tableDir)
    val recs = all.filter(r => r.snapshotId > fromExclusive && r.snapshotId <= toInclusive)
    require(recs.nonEmpty, s"no snapshots in ($fromExclusive, $toInclusive]")
    val bad = recs.filter(_.op != "append")
    require(bad.isEmpty, "incremental read is append-only; range contains " +
      bad.map(r => s"${r.snapshotId}:${r.op}").mkString(", "))
    readLive(spark, tableDir, recs.flatMap(_.files),
      GraftLog.fold(all, Some(toInclusive)).schema)
  }

  /** Row-level CHANGELOG between two snapshots — the CDC view Iceberg
    * exposes as `create_changelog_view`: a key-joined diff of the two
    * live row sets, each row tagged `inserted` / `deleted` / `updated`
    * / `unchanged`. Works across ANY operation mix (unlike
    * [[readIncremental]], which is append-only by contract): rewrites
    * re-bind rows to files but do not change row content, so a
    * content-level diff is immune to them — compaction between the
    * snapshots yields all-`unchanged` (spec-asserted invariant).
    *
    * Scale shape: one shuffle of each snapshot's live rows on the key
    * (the join), non-key comparison via a null-safe struct equality —
    * no per-column join conditions, no driver-side anything. `keyCols`
    * must identify rows in both snapshots (duplicate keys would
    * cross-product in the join, as in any MERGE).
    */
  def diffSnapshots(spark: SparkSession, tableDir: String,
      fromSnapshot: Long, toSnapshot: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{lit, struct, when}
    val recs = GraftLog.records(tableDir)
    val a0 = readLive(spark, tableDir, GraftLog.fold(recs, Some(fromSnapshot)))
    val b0 = readLive(spark, tableDir, GraftLog.fold(recs, Some(toSnapshot)))
    // an endpoint before the first commit reads as the 0-column frame
    // — borrow the other endpoint's schema so the changelog degenerates
    // correctly (all-inserted) instead of tripping the schema-change
    // guard (review fix r5); both empty → the empty changelog, same
    // 0-column convention as readSnapshot
    if (a0.columns.isEmpty && b0.columns.isEmpty) return spark.emptyDataFrame
    val a = if (a0.columns.isEmpty) readLive(spark, tableDir, Nil, Some(b0.schema)) else a0
    val b = if (b0.columns.isEmpty) readLive(spark, tableDir, Nil, Some(a0.schema)) else b0
    val nonKey = a.columns.filterNot(keyCols.contains).toSeq
    require(nonKey.sorted == b.columns.filterNot(keyCols.contains).toSeq.sorted,
      "diffSnapshots across a schema change: align columns first")
    val left = a.select(
      keyCols.map(col) :+ struct(nonKey.map(col): _*).as("_before"): _*)
    val right = b.select(
      keyCols.map(col) :+ struct(nonKey.map(col): _*).as("_after"): _*)
    left.join(right, keyCols, "full_outer")
      .withColumn("change",
        when(col("_before").isNull, lit("inserted"))
          .when(col("_after").isNull, lit("deleted"))
          .when(!(col("_before") <=> col("_after")), lit("updated"))
          .otherwise(lit("unchanged")))
  }

  /** Roll the table back to snapshot `toSnapshotId` — Iceberg's
    * `rollback_to_snapshot`: committed as a NEW `rewrite` snapshot
    * whose live set is the target snapshot's (history is append-only;
    * a rollback is a forward commit that restores old content, so the
    * rolled-back-over snapshots stay readable until expiry and the
    * operation is itself roll-back-able). Requires the target snapshot
    * to exist; returns the new snapshot's commit info.
    */
  def rollback(tableDir: String, toSnapshotId: Long): CommitInfo = {
    val recs = GraftLog.records(tableDir)
    require(recs.exists(_.snapshotId == toSnapshotId),
      s"no snapshot $toSnapshotId in $tableDir")
    // restoring old content is content-dependent by definition — abort
    // if anything commits between planning and publish. rows = the
    // fold's rows of the restored live set (the convention every
    // full-set op — compact/overwrite/delete — uses), not the target
    // snapshot's own delta: a rollback to an append-on-top-of-appends
    // restores all of them, and the record must describe what its file
    // set holds (advisor finding r5). The schema is restored too, so a
    // rollback over an ADD-COLUMN reads the narrow schema again.
    val target = GraftLog.fold(recs, Some(toSnapshotId))
    val rec = GraftLog.commitReplacing(tableDir, "rewrite", target.rows, target.files,
      Seq.empty, GraftLog.fold(recs).snapshotId, carryAppends = false, target.schema)
    CommitInfo(rec.snapshotId, rec.files, target.rows)
  }

  /** Bin-pack the live set: one file per partition directory, committed
    * as a `rewrite` snapshot. Same rows, fewer files; old snapshots
    * remain readable until expiry.
    */
  def compact(spark: SparkSession, tableDir: String): CommitInfo = {
    // plan against a FIXED base snapshot; commitReplacing validates the
    // log hasn't moved past it (concurrent appends are carried over —
    // sound for a content-neutral rewrite; a concurrent replacing
    // commit aborts with ConcurrentModificationException for re-run)
    val base = GraftLog.fold(GraftLog.records(tableDir))
    val partitionCols = base.files
      .flatMap(_.split("/").dropRight(1).map(_.takeWhile(_ != '='))).distinct
    // No coalesce(1): writeFiles repartitions on the partition key, which
    // already yields one file per partition directory (all rows of a
    // key land in one task) while keeping the rewrite fully parallel —
    // a single-task funnel here would be the scale bottleneck of the
    // whole maintenance op.
    val (files, rows) =
      HiveParquetWriter.writeFiles(readLive(spark, tableDir, base), partitionCols, tableDir)
    val rec = GraftLog.commitReplacing(tableDir, "rewrite", rows, files, Seq.empty,
      base.snapshotId, carryAppends = true, base.schema)
    CommitInfo(rec.snapshotId, rec.files, rec.rows)
  }

  /** Copy-on-write MERGE (the observable semantics of Iceberg's
    * `MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
    * INSERT`): every key of `updates` replaces the table's existing row
    * with that key, and unmatched keys are inserted. The rewrite scope
    * is the TOUCHED PARTITIONS only — files of partitions no update
    * row lands in carry over into the new snapshot byte-identical
    * (verified by relative path in LakeOpsSpec), which is what keeps a
    * point update on a 100 TB table from rewriting 100 TB. Committed as
    * an `overwrite` snapshot; readers at older snapshots still see the
    * pre-merge rows (snapshot isolation across content changes, not
    * just compaction).
    *
    * Contract: `updates` has the table's columns, partition columns
    * included (of any type: they are rendered to their directory
    * strings as the write path renders them); `keyCols` are
    * unique within `updates`; and the key → partition mapping is STABLE
    * — an update must carry the key's existing partition value (true by
    * construction when the partition is a transform of the key, the
    * reference's own layout, Q2-Q4). A partition-moving update would
    * leave the old row alive in the untouched partition — matching keys
    * GLOBALLY would mean scanning every partition per merge, which is
    * exactly what partition-scoped rewrite exists to avoid; Iceberg's
    * copy-on-write MERGE leans on the same pruning when the match
    * predicate covers the partition key. The touched-partition list is
    * collected
    * to the driver — it is bounded by the partitions the update batch
    * touches (a point-update workload touches few), never by table
    * size. A delete composes as: upsert the survivors of the touched
    * keys' partitions, or run a full `rewrite` for bulk erasure.
    * Returns the no-op `CommitInfo(0, Seq.empty, 0)` for an empty
    * update batch (the Q10 rule: no empty snapshots).
    */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
      keyCols: Seq[String], partitionCols: Seq[String],
      sources: Seq[String] = Seq.empty): CommitInfo = {
    val up = HiveParquetWriter.render(updates, partitionCols)
    val touched = touchedDirs(up, partitionCols)
    if (touched.isEmpty) return CommitInfo(0, Seq.empty, 0)
    // content-dependent rewrite: plan against a fixed base snapshot and
    // let commitReplacing ABORT (ConcurrentModificationException) if any
    // commit lands meanwhile — a carried-over concurrent append could
    // contain a merge key this upsert already decided about
    val base = GraftLog.fold(GraftLog.records(tableDir))
    val (touchedFiles, carried) = splitLive(base.files, touched)
    val merged =
      if (touchedFiles.isEmpty) up
      else {
        // the table schema (via readLive): a touched partition may hold
        // files from before an ADD-COLUMN evolution, whose rows read the
        // added column as null; rendered, because a data-only log leaves
        // Spark to infer the partition columns, and the union needs one type
        val cur = HiveParquetWriter.render(
          readLive(spark, tableDir, touchedFiles, base.schema), partitionCols)
        // whole-row replacement semantics: an update row that omits an
        // evolved column writes null there (allowMissingColumns), the
        // same null a fresh insert would carry
        cur.join(up.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
          .unionByName(up, allowMissingColumns = true)
      }
    // Record.rows = rows written in the rewrite scope, as the write job
    // counted them (same convention as compact; carried files keep
    // their original rows)
    val (files, rows) = HiveParquetWriter.writeFiles(merged, partitionCols, tableDir)
    val rec = GraftLog.commitReplacing(tableDir, "overwrite", rows, carried ++ files,
      sources, base.snapshotId, carryAppends = false,
      GraftLog.widen(base.schema, Some(HiveParquetWriter.dataSchema(merged, partitionCols))))
    CommitInfo(rec.snapshotId, rec.files, rows)
  }

  /** Relative partition directories the rows of `df` land in, rendered
    * exactly as the write path names them — a raw-value prefix would
    * never match an escaped directory and the stale row would silently
    * survive a merge. Collected to the driver: bounded by the
    * partitions touched, never by table size.
    */
  private def touchedDirs(df: DataFrame, partitionCols: Seq[String]): Set[String] =
    df.select(partitionCols.map(col): _*).distinct().collect().map { r =>
      partitionCols.indices
        .map(i => HiveParquetWriter.renderDir(partitionCols(i), r.get(i).toString)).mkString("/")
    }.toSet

  /** Split live files into (under a touched directory, carried over). */
  private def splitLive(live: Seq[String], touched: Set[String]): (Seq[String], Seq[String]) =
    live.partition(f => touched.exists(p => f.startsWith(p + "/")))

  /** Copy-on-write DELETE (the observable semantics of Iceberg's
    * `DELETE FROM t WHERE p` in copy-on-write mode — the GDPR/forget
    * primitive of a lake table): rows where `predicate` evaluates TRUE
    * are removed; NULL predicate rows survive (SQL DELETE semantics).
    *
    * The rewrite scope is the partitions that actually CONTAIN a
    * matching row: one predicate-filtered scan finds them (an Iceberg
    * catalog prunes the same scan with file stats before reading), the
    * touched-partition list collected to the driver is bounded by the
    * matched partitions (a point-delete touches one), and every file of
    * an untouched partition carries into the new snapshot
    * byte-identical — a targeted delete on a 100 TB table rewrites only
    * the partitions it hits. Committed as a `delete` snapshot; readers
    * at older snapshots still see the pre-delete rows, which is what
    * makes expireSnapshots the actual point of erasure for compliance
    * (documented Iceberg behavior: COW delete + snapshot expiry).
    *
    * Returns `CommitInfo(snapshotId, files, rowsDeleted)`; a predicate
    * matching nothing is a no-op `CommitInfo(0, Seq.empty, 0)` (the Q10
    * rule: no empty snapshots).
    */
  def delete(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String]): CommitInfo = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    // content-dependent rewrite: fixed base snapshot, abort on any
    // concurrent commit (an appended row could match the predicate)
    val base = GraftLog.fold(GraftLog.records(tableDir))
    if (base.files.isEmpty) return CommitInfo(0, Seq.empty, 0)
    val hit = coalesce(predicate, lit(false))
    val touched = touchedDirs(
      readLive(spark, tableDir, base.files, base.schema).filter(hit), partitionCols)
    if (touched.isEmpty) return CommitInfo(0, Seq.empty, 0)
    val (touchedFiles, carried) = splitLive(base.files, touched)
    val cur = readLive(spark, tableDir, touchedFiles, base.schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val before = cur.count()
      val survivors = cur.filter(not(hit))
      val (files, kept) = HiveParquetWriter.writeFiles(survivors, partitionCols, tableDir)
      val rec = GraftLog.commitReplacing(tableDir, "delete", kept, carried ++ files,
        Seq.empty, base.snapshotId, carryAppends = false, base.schema)
      CommitInfo(rec.snapshotId, rec.files, before - kept)
    } finally cur.unpersist()
  }

  /** Delete data files unreachable from the newest `keepLast`
    * snapshots. Returns the deleted relative paths. `_`-prefixed
    * directories under the table belong to writers (the log, and the
    * `_staging_*` dir of an append in flight, whose staged files are
    * not yet published) and are never swept.
    */
  def expireSnapshots(tableDir: String, keepLast: Int): Seq[String] = {
    val recs = GraftLog.records(tableDir)
    if (recs.isEmpty) return Seq.empty
    val keptIds = recs.map(_.snapshotId).sorted.takeRight(keepLast)
    val reachable = keptIds.flatMap(id => GraftLog.fold(recs, Some(id)).files).toSet
    val root = Paths.get(tableDir)
    val onDisk = scala.util.Using.resource(Files.list(root))(_.iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("_"))
      .flatMap(Files.walk(_).iterator().asScala)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSeq)
    val doomed = onDisk.filterNot(reachable)
    doomed.foreach(f => Files.deleteIfExists(root.resolve(f)))
    doomed.sorted
  }

  /** Per-live-file [min, max] of a LONG column, from the parquet
    * FOOTERS — the emulated form of the column stats an Iceberg
    * manifest carries per data file. `None` when the file has no
    * non-null stats for the column (reader must include it). Footers
    * are KB-sized; a real `IcebergWriter` behind the [[LakeWriter]]
    * seam would record these at COMMIT time in the manifest and pay
    * zero reads here.
    */
  def fileStats(tableDir: String, column: String): Seq[(String, Option[(Long, Long)])] =
    GraftLog.liveFiles(tableDir).map(f => f -> fileRange(tableDir, f, column))

  private def fileRange(tableDir: String, file: String, column: String): Option[(Long, Long)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    HiveParquetWriter.footer(s"$tableDir/$file") { footer =>
      val ranges = footer.getBlocks.asScala.flatMap { block =>
        block.getColumns.asScala
          .filter(_.getPath.toDotString == column)
          .flatMap { c =>
            // fail fast on a non-INT64 column — a silent
            // ClassCastException from genericGetMin would otherwise
            // surface deep inside the footer loop
            val tn = c.getPrimitiveType.getPrimitiveTypeName
            require(tn == PrimitiveTypeName.INT64,
              s"fileStats: column '$column' is $tn, only INT64 (long) is supported")
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else Some((st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
              st.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
          }
      }
      if (ranges.isEmpty) None else Some((ranges.map(_._1).min, ranges.map(_._2).max))
    }
  }

  /** Stats-pruned scan: read only the live files whose footer [min,
    * max] for `column` INTERSECTS [lo, hi] (files without stats are
    * conservatively included), then apply the row-level filter on what
    * remains — manifest-style FILE SKIPPING, the read-path half of
    * Iceberg's min/max pruning. Purely physical: the returned frame
    * equals `readTable(...).filter(lo ≤ column ≤ hi)` by construction
    * — INCLUDING the schema: the survivors read with the table schema
    * from the log (a schema-evolved live set keeps an added column
    * even when no surviving file has it), and a zero-file selection
    * reads as an empty frame of the same schema without planning a
    * scan. Returns (frame, scanned, live) so callers can observe the
    * pruning ratio.
    */
  def readPruned(spark: SparkSession, tableDir: String, column: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val live = GraftLog.fold(GraftLog.records(tableDir))
    val keep = live.files.filter(f => fileRange(tableDir, f, column)
      .forall { case (mn, mx) => mx >= lo && mn <= hi })
    (readLive(spark, tableDir, keep, live.schema).filter(col(column) >= lo && col(column) <= hi),
      keep.size, live.files.size)
  }
}
