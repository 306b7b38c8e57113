package graft.sink

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

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
  *  - `delete` and `upsert` rewrite only the partition directories
  *    they touch; all three go through one copy-on-write step
  *    ([[rewrite]]), which writes under the table's own layout
  *    ([[GraftLog.Live.partitionCols]]);
  *  - `expireSnapshots` deletes data files unreachable from the kept
  *    snapshots (the GC half of Iceberg's `expire_snapshots`).
  */
object LakeOps {

  /** Read live files (paths relative to `tableDir`) with the snapshot's
    * table schema from the log — no footer read and no inference job; a
    * file written before an ADD-COLUMN reads the column as null. Every
    * partition column the files' directories name reads as its directory
    * string: the current format's schema holds it, and the older ones
    * gain it — a data-only schema at its end, a schema-less log after
    * the data columns Spark infers from the footers (`mergeSchema`).
    * Spark infers no partition column type.
    *
    * No live files (a full-table DELETE, or a table with no commits)
    * read as an empty frame of the schema; a table with no commits has
    * the empty schema, so it reads as the 0-column frame.
    */
  private def readLive(spark: SparkSession, tableDir: String,
      files: Seq[String], schema: Option[StructType]): DataFrame = {
    val paths = files.map(f => s"$tableDir/$f")
    val logged = schema.getOrElse(if (files.isEmpty) new StructType()
      else spark.read.option("mergeSchema", "true").parquet(paths: _*).schema)
    val table = StructType(logged ++ GraftLog.partitionCols(files)
      .filterNot(logged.fieldNames.contains).map(StructField(_, StringType)))
    if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), table)
    else spark.read.option("basePath", tableDir).schema(table).parquet(paths: _*)
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
    import org.apache.spark.sql.functions.{struct, when}
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
    * remain readable until expiry. Concurrent appends are carried into
    * the rewrite (it is content-neutral); a table with no live file is
    * left as it is.
    */
  def compact(spark: SparkSession, tableDir: String): CommitInfo = {
    val base = GraftLog.fold(GraftLog.records(tableDir))
    if (base.files.isEmpty) return NoOp
    val (rec, _) = rewrite(spark, tableDir, base, "rewrite", None, base.partitionCols)(identity)
    CommitInfo(rec.snapshotId, rec.files, rec.rows)
  }

  /** Copy-on-write MERGE (the observable semantics of Iceberg's
    * `MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
    * INSERT`): every key of `updates` replaces the table's existing row
    * with that key, and unmatched keys are inserted. Only the partition
    * directories the update rows land in are rewritten; every other
    * file carries into the new `overwrite` snapshot byte-identical.
    *
    * Contract: `updates` has the table's columns, partition columns
    * included (of any type: they are rendered to their directory
    * strings as the write path renders them); `keyCols` are unique
    * within `updates`; and the key → partition mapping is stable (an
    * update carries the key's existing partition value, true when the
    * partition is a transform of the key, the reference's layout). A
    * partition-moving update would leave the old row alive in its
    * untouched partition. `partitionCols` lays out a table with no live
    * file; on any other table it must be the table's own layout, or the
    * upsert is refused before anything is written. An update batch with
    * no rows is the no-op `CommitInfo(0, Seq.empty, 0)` (Q10: no empty
    * snapshots). Returns the rows written in the rewritten directories.
    */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
      keyCols: Seq[String], partitionCols: Seq[String],
      sources: Seq[String] = Seq.empty): CommitInfo = {
    val base = GraftLog.fold(GraftLog.records(tableDir))
    require(base.files.isEmpty || partitionCols == base.partitionCols,
      s"upsert partitioned by ${partitionCols.mkString("(", ", ", ")")} into $tableDir, " +
        s"which is partitioned by ${base.partitionCols.mkString("(", ", ", ")")}")
    val up = HiveParquetWriter.render(updates, partitionCols)
    val touched = touchedDirs(up, partitionCols)
    if (touched.isEmpty) return NoOp
    // whole-row replacement: an update row that omits an evolved column
    // writes null there (allowMissingColumns), as a fresh insert would
    val (rec, rows) = rewrite(spark, tableDir, base, "overwrite", Some(touched.keySet),
      partitionCols, sources) { cur =>
      if (cur.columns.isEmpty) up // a table with no column yet holds no row to replace
      else cur.join(up.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
        .unionByName(up, allowMissingColumns = true)
    }
    CommitInfo(rec.snapshotId, rec.files, rows)
  }

  /** Copy-on-write DELETE (the observable semantics of Iceberg's
    * `DELETE FROM t WHERE p` in copy-on-write mode): rows where
    * `predicate` is TRUE are removed; rows where it is NULL survive (SQL
    * DELETE semantics). One scan of the live rows finds the partition
    * directories holding a match and counts the matches in each; only
    * those directories are rewritten, and every other file carries into
    * the new `delete` snapshot byte-identical. Readers at older snapshots
    * still see the deleted rows until [[expireSnapshots]].
    *
    * Returns `CommitInfo(snapshotId, files, rowsDeleted)`; a predicate
    * matching nothing is the no-op `CommitInfo(0, Seq.empty, 0)`.
    */
  def delete(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): CommitInfo = {
    import org.apache.spark.sql.functions.{coalesce, not}
    val base = GraftLog.fold(GraftLog.records(tableDir))
    if (base.files.isEmpty) return NoOp
    val hit = coalesce(predicate, lit(false))
    val touched = touchedDirs(readLive(spark, tableDir, base).filter(hit), base.partitionCols)
    if (touched.isEmpty) return NoOp
    val (rec, _) = rewrite(spark, tableDir, base, "delete", Some(touched.keySet),
      base.partitionCols)(_.filter(not(hit)))
    CommitInfo(rec.snapshotId, rec.files, touched.values.sum)
  }

  private val NoOp = CommitInfo(0, Seq.empty, 0)

  /** The partition directories the rows of `df` lie in, each with its
    * row count: one grouped scan, collected to the driver (bounded by
    * the directories touched, never by table size). Groups of no rows
    * are dropped: without partition columns the count is a global
    * aggregate, which returns one row even over no input.
    */
  private def touchedDirs(df: DataFrame, partitionCols: Seq[String]): Map[String, Long] =
    df.groupBy(partitionCols.map(col): _*).agg(count(lit(1))).collect()
      .filter(_.getLong(partitionCols.size) >= 1)
      .map(r => GraftLog.partitionPath(partitionCols, partitionCols.indices.map(r.getString)) ->
        r.getLong(partitionCols.size)).toMap

  /** The one copy-on-write step of compact, delete and upsert. From the
    * folded `base`, read the live files whose partition directory is in
    * `dirs` (every live file when None) with the table schema, write
    * `rows` of them under `layout`, and commit the written files plus
    * the other live files, carried byte-identical, as a live-set-
    * replacing `op` record validated against `base`: a `rewrite` carries
    * concurrent appends, any other op aborts on them
    * (`ConcurrentModificationException`), since an appended row could
    * hold a key or match a predicate it already decided about. The
    * record counts the rows written; it is returned with that count.
    */
  private def rewrite(spark: SparkSession, tableDir: String, base: GraftLog.Live, op: String,
      dirs: Option[Set[String]], layout: Seq[String], sources: Seq[String] = Seq.empty)(
      rows: DataFrame => DataFrame): (GraftLog.Record, Long) = {
    val (scope, carried) = base.files.partition(f => dirs.forall(_(GraftLog.partitionDir(f))))
    val out = rows(readLive(spark, tableDir, scope, base.schema))
    val (files, written) = HiveParquetWriter.writeFiles(out, layout, tableDir)
    val rec = GraftLog.commitReplacing(tableDir, op, written, carried ++ files, sources,
      base.snapshotId, carryAppends = op == "rewrite",
      GraftLog.widen(base.schema, Some(HiveParquetWriter.dataSchema(out, layout))))
    (rec, written)
  }

  /** Delete data files unreachable from the newest `keepLast`
    * snapshots. Returns the deleted relative paths. `_`-prefixed
    * directories under the table belong to writers (the log, and the
    * `_staging_*` dir of an append in flight, whose staged files are
    * not yet published) and are never swept. `keepLast` below 1 would
    * keep no snapshot, so even the live files would go: it is refused
    * before anything is deleted.
    */
  def expireSnapshots(tableDir: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"expireSnapshots keeps at least the current snapshot, got keepLast = $keepLast")
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
