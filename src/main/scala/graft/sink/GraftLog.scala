package graft.sink

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}

/** The table's commit log: one JSON record per snapshot under
  * `<tableDir>/_graft_log/`, emulating the observable metadata of
  * Iceberg's snapshot chain (`App.java:147-149` territory, SURVEY.md
  * A21/A24) with three operations:
  *
  *  - `append`: `files` join the table;
  *  - `rewrite`: `files` REPLACE the live set (compaction — same rows,
  *    fewer/bigger files);
  *  - `overwrite`: `files` REPLACE the live set with CHANGED content
  *    (copy-on-write MERGE — [[LakeOps.upsert]] lists carried-over
  *    files of untouched partitions plus the rewritten ones, so the
  *    fold semantics are those of `rewrite`; the distinct op name keeps
  *    the ledger honest about which snapshots changed rows).
  *
  * Record format: `<snapshotId %020d>.json` holds one json4s-serialized
  * [[Record]] — keys in field order, `files` and `sources` sorted, every
  * string escaped by the JSON writer (a source key may hold any
  * character a file name can). The log dir and every other
  * `_`-prefixed directory directly under a table belong to writers
  * (`_staging_*` is an append in flight); data files live only under
  * the partition directories.
  *
  * `schema` is the table schema after the commit (Spark's
  * `StructType.json`): the data columns, then the partition columns as
  * strings, the form their directory names hold. It is kept in the log
  * as Iceberg keeps it in table metadata, so readers infer nothing.
  * Legacy rules: a schema without the partition columns (the older
  * data-only format) is read with them added as strings, until a write
  * widens it; a record without any schema (json4s omits `None`, so the
  * bytes are the oldest format's) leaves any fold over it schema-less,
  * readers then infer the data columns from the files and add the
  * partition columns as strings, and commits on top of it stay
  * schema-less.
  *
  * The layout is the log's too, as Iceberg's partition spec is the
  * table's: a file's partition directory is its relative path without
  * the file name (`""` at the table root), and the table's partition
  * columns are the unescaped names of those directories' levels
  * ([[Live.partitionCols]]). A directory name is only ever built by
  * Spark's `getPartitionPathString` ([[partitionPath]]), which escapes
  * the name and the value.
  *
  * The live file set of a snapshot is the fold of operations up to it
  * ([[fold]]); readers must resolve through the log (never the
  * directory listing — files replaced by a rewrite remain on disk until
  * expiry, exactly like Iceberg's snapshot isolation + GC split).
  *
  * `sources` records the consumed input files of an append — the
  * exactly-once ledger: re-offered source files that already appear in
  * a committed snapshot are skipped by the pipeline (a crash between
  * commit and source-delete can no longer double-ingest; SURVEY.md Q5).
  */
object GraftLog {

  final case class Record(
      snapshotId: Long, op: String, rows: Long,
      files: Seq[String], sources: Seq[String], schema: Option[String])

  /** What a prefix of the log folds to: its newest snapshot id (0 for
    * an empty prefix), the live files, the live rows and the table
    * schema (`None` once a schema-less record is folded in).
    * `partitionCols` is the table's layout, read off the live files.
    */
  final case class Live(snapshotId: Long, files: Vector[String], rows: Long,
      schemaJson: Option[String]) {
    lazy val schema: Option[StructType] = schemaJson.map(parseSchema)
    lazy val partitionCols: Seq[String] = GraftLog.partitionCols(files)
  }

  /** A file's partition directory: its relative path without the file
    * name (`""` at the table root). */
  def partitionDir(file: String): String = file.take(file.lastIndexOf('/') max 0)

  /** The partition columns `files` lie under, in directory order: the
    * unescaped name of each `name=value` level. A directory level is
    * only ever named by [[partitionPath]], which escapes `=` in a name,
    * so the first `=` ends it. */
  def partitionCols(files: Seq[String]): Seq[String] =
    files.flatMap(f => partitionDir(f).split('/').filter(_.nonEmpty)
      .map(level => ExternalCatalogUtils.unescapePathName(level.takeWhile(_ != '=')))).distinct

  /** The partition directory of one row's rendered partition values, as
    * Spark's writer names it: name and value both escaped. */
  def partitionPath(cols: Seq[String], values: Seq[String]): String =
    cols.zip(values).map { case (c, v) => ExternalCatalogUtils.getPartitionPathString(c, v) }.mkString("/")

  private val EmptySchema = new StructType().json

  private def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  private implicit val formats: DefaultFormats.type = DefaultFormats

  def logDir(tableDir: String): Path = Paths.get(tableDir, "_graft_log")

  def records(tableDir: String): Seq[Record] = {
    val dir = logDir(tableDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .toSeq.sortBy(_.getFileName.toString))
      .flatMap { p =>
        // A truncated/garbled record (torn write by a foreign or crashed
        // writer — our own commits are atomic renames and can't tear)
        // must not poison every subsequent read of the table. Quarantine
        // it: rename to a UNIQUE `<name>.<nonce>.corrupt` (kept for
        // forensics, no longer parsed) and carry on with the readable
        // chain. The nonce matters: a fixed `.corrupt` name collides
        // when a SECOND torn write lands on the same id (found by the
        // r5 randomized-sequence spec) — the rename then fails forever,
        // the id stays occupied-but-invisible to nextSnapshotId, and
        // commit() exhausts its 1000 retries on a permanent collision.
        try Some(JsonMethods.parse(Files.readString(p)).extract[Record])
        catch {
          case _: Exception =>
            val nonce = java.util.UUID.randomUUID().toString.take(8)
            try Files.move(p,
              p.resolveSibling(s"${p.getFileName.toString}.$nonce.corrupt"))
            catch { case _: Exception => () } // read-only fs: just skip
            None
        }
      }
  }

  /** Fold `recs` up to `upTo` (all when None) in snapshot order.
    * `rewrite`/`overwrite`/`delete` records carry the FULL live set
    * (their files and rows replace the fold); appends and unknown ops
    * carry a delta. Every record carries the whole table schema, so the
    * fold's is the last record's — or `None` if any record lacks one.
    */
  def fold(recs: Seq[Record], upTo: Option[Long] = None): Live =
    recs.iterator.filter(r => upTo.forall(r.snapshotId <= _))
      .foldLeft(Live(0L, Vector.empty, 0L, Some(EmptySchema))) { (live, r) =>
        val id = live.snapshotId max r.snapshotId
        val schema = live.schemaJson.flatMap(_ => r.schema)
        r.op match {
          case "rewrite" | "overwrite" | "delete" => Live(id, r.files.toVector, r.rows, schema)
          case _ => Live(id, live.files ++ r.files, live.rows + r.rows, schema)
        }
      }

  /** Live data files (relative paths) as of `snapshotId` (or the
    * latest when None).
    */
  def liveFiles(tableDir: String, snapshotId: Option[Long] = None): Seq[String] =
    fold(records(tableDir), snapshotId).files

  /** Every source file ever committed — the exactly-once ledger. */
  def committedSources(tableDir: String): Set[String] =
    records(tableDir).flatMap(_.sources).toSet

  def nextSnapshotId(tableDir: String): Long = fold(records(tableDir)).snapshotId + 1L

  /** Commit a record under the next free snapshot id — atomic and
    * collision-safe, the two properties "transactional append" actually
    * means (the reference gets both from Iceberg's optimistic-commit
    * protocol, `App.java:147-149`; the r1/r2 emulation had neither:
    * an unlocked read-modify-write id allocation plus a non-atomic
    * `Files.writeString`, so two writers could allocate the same id and
    * silently overwrite each other's commit, and a crash mid-write left
    * truncated JSON that poisoned every later read). The record's schema
    * is the claimed base's widened by `dataSchema`, the written table's.
    */
  def commit(tableDir: String, op: String, rows: Long,
      files: Seq[String], sources: Seq[String],
      dataSchema: Option[StructType] = None): Record =
    claim(tableDir) { recs =>
      val base = fold(recs)
      Record(base.snapshotId + 1L, op, rows, files.sorted, sources.sorted,
        widen(base.schema, dataSchema).map(_.json))
    }

  /** ADD-COLUMN evolution: `base`'s fields in order, then the fields of
    * `data` it lacks (so a data-only base gains the partition columns)
    * — or `None` (a schema-less record) when either is.
    */
  private[sink] def widen(base: Option[StructType], data: Option[StructType]): Option[StructType] =
    for (b <- base; d <- data)
      yield StructType(b.fields ++ d.fields.filterNot(f => b.fieldNames.contains(f.name)))

  /** Commit a live-set-REPLACING record (`rewrite`/`overwrite`/
    * `delete`) VALIDATED against the base snapshot the operation
    * planned from — the observable semantics of Iceberg's optimistic
    * commit protocol, which the id-CAS alone does not give: a plain
    * `commit("rewrite", ...)` racing an append wins the id race and
    * then its record REPLACES the fold, silently dropping the
    * concurrently-appended files from the live set (a lost update the
    * r6 two-session race test pins).
    *
    * `schema` is the new table schema as planned from the base; the
    * schemas of carried appends are unioned into it.
    *
    * If commits landed past `baseId`:
    *  - concurrent APPENDS are carried into the new live set when
    *    `carryAppends` (sound for content-neutral compaction — the
    *    appended files simply stay live and their rows join the total;
    *    Iceberg's RewriteFiles retries the same way);
    *  - otherwise — and always when a REPLACING commit intervened —
    *    throw `ConcurrentModificationException`: a content-dependent
    *    rewrite (MERGE, DELETE, rollback) planned its output rows from
    *    a stale snapshot and must re-run against the new state.
    */
  def commitReplacing(tableDir: String, op: String, rows: Long,
      files: Seq[String], sources: Seq[String], baseId: Long,
      carryAppends: Boolean, schema: Option[StructType] = None): Record =
    claim(tableDir) { recs =>
      val newer = recs.filter(_.snapshotId > baseId)
      if (newer.exists(_.op != "append"))
        throw new java.util.ConcurrentModificationException(
          s"$op on $tableDir planned from snapshot $baseId but a replacing " +
            s"commit landed after it; re-read and re-run")
      if (!carryAppends && newer.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$op on $tableDir planned from snapshot $baseId but appends " +
            s"landed after it; re-read and re-run")
      val widened = newer.foldLeft(schema)((s, r) => widen(s, r.schema.map(parseSchema)))
      Record(fold(recs).snapshotId + 1L, op, rows + newer.map(_.rows).sum,
        (files ++ newer.flatMap(_.files)).sorted, sources.sorted, widened.map(_.json))
    }

  /** The optimistic-commit loop: plan a record from a fresh read of the
    * log (the re-read IS the concurrency check), stage it to a temp file
    * (invisible to `records()` — no `.json` suffix), then publish via
    * `Files.createLink` — an atomic CREATE-NEW on POSIX (unlike
    * `ATOMIC_MOVE`, whose rename(2) silently REPLACES an existing
    * target). If another writer claimed the id first, the link throws
    * `FileAlreadyExistsException`; re-read and retry with a fresh plan.
    * Readers see either no file or the complete record, and no commit
    * is ever overwritten.
    */
  private def claim(tableDir: String)(plan: Seq[Record] => Record): Record = {
    val dir = logDir(tableDir)
    Files.createDirectories(dir)
    var attempt = 0
    while (attempt <= 1000) {
      val rec = plan(records(tableDir))
      val tmp = dir.resolve(s"_tmp_${java.util.UUID.randomUUID()}")
      Files.writeString(tmp, Serialization.write(rec))
      try {
        Files.createLink(dir.resolve(f"${rec.snapshotId}%020d.json"), tmp)
        return rec
      } catch {
        case _: FileAlreadyExistsException => attempt += 1 // id raced away
      } finally Files.delete(tmp)
    }
    throw new IllegalStateException(s"commit to $tableDir: 1000 id collisions")
  }
}
