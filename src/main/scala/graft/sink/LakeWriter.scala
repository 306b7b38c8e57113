package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One committed append (the observable behavior of the reference's
  * `newAppend().appendFile().commit()`, `App.java:147-149` / SURVEY.md
  * A21): which files joined the table, how many rows, under which
  * sequential snapshot id, and which source files were consumed.
  */
final case class CommitInfo(snapshotId: Long, files: Seq[String], rows: Long)

/** Transactional-append sink boundary (SURVEY.md §7: no Iceberg runtime
  * jar exists on this system, so the default implementation emulates the
  * observable commit semantics — Hive-layout partitioned parquet plus a
  * JSON commit log. A real `IcebergWriter` (`df.writeTo(t).append()`)
  * slots in behind this trait if a runtime jar ever appears.)
  */
trait LakeWriter {
  /** Append `df` partitioned by `partitionCols` (already materialized as
    * columns of `df`) under `tableDir`, recording consumed `sources` in
    * the commit for the exactly-once ledger. Returns the commit record.
    */
  def append(df: DataFrame, partitionCols: Seq[String], tableDir: String,
      sources: Seq[String] = Seq.empty): CommitInfo
}

/** Hive-layout parquet + commit-log emulation of A18-A21:
  *
  *  - `name=value/` directory layout (A18, `App.java:112-131`) via
  *    `partitionBy` — value *rendering* (day → ISO date, month →
  *    `yyyy-MM`) is the caller's job when deriving the columns;
  *  - UUID-suffixed file names (A19) — Spark task files are already
  *    UUID-named;
  *  - one atomic-rename commit per append batch — deliberately better
  *    than the reference's snapshot-per-(file × partition) (Q6): same
  *    observable table content, O(1) commits;
  *  - null partition values render as `name=null` like the reference
  *    (`String.valueOf(null)`), normalized from Spark's
  *    `__HIVE_DEFAULT_PARTITION__` during publish.
  *
  * Write path at scale: the caller repartitions by the partition key
  * first (one shuffle, A17), so each task writes at most a few
  * partition directories instead of every task writing every partition
  * — the many-small-files failure mode at 1000 executors.
  */
final class HiveParquetWriter extends LakeWriter {

  override def append(df: DataFrame, partitionCols: Seq[String], tableDir: String,
      sources: Seq[String] = Seq.empty): CommitInfo = {
    val published = HiveParquetWriter.writeFiles(df, partitionCols, tableDir)
    val rows = published.map(_._2).sum
    if (rows == 0) return CommitInfo(0, Seq.empty, 0) // Q10: empty input → no snapshot
    val rec = GraftLog.commit(tableDir, "append", rows, published.map(_._1).sorted, sources)
    CommitInfo(rec.snapshotId, rec.files, rows)
  }
}

object HiveParquetWriter {

  /** Directory name of one partition value, matching the write path
    * exactly: Spark's partitionBy escapes special characters (/, =, %,
    * …) via escapePathName, and [[writeFiles]] renames Spark's null dir
    * to the reference's `name=null` (`String.valueOf(null)`).
    */
  private[sink] def renderDir(colName: String, v: Any): String =
    if (v == null) s"$colName=null"
    else s"$colName=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(v.toString)

  private val SparkNullDir = "=__HIVE_DEFAULT_PARTITION__"

  /** Stage + publish data files under `tableDir` (no commit record).
    * Returns (relative path, exact per-file row count) pairs — counts
    * read from the staged parquet footers, no counting job. The
    * `_staging_*` dir is removed whether the write succeeds or fails.
    */
  private[sink] def writeFiles(
      df: DataFrame, partitionCols: Seq[String], tableDir: String): Seq[(String, Long)] = {
    val dir = Paths.get(tableDir)
    Files.createDirectories(dir)
    val staging = dir.resolve(s"_staging_${java.util.UUID.randomUUID()}")
    try {
      val writer =
        if (partitionCols.nonEmpty)
          df.repartition(partitionCols.map(col): _*).write.partitionBy(partitionCols: _*)
        else df.write
      writer.parquet(staging.toString)

      // Row counts come from the staged files' parquet FOOTERS — exact
      // (a footer's block row counts are the file's row count), read
      // driver-side without a Spark job. This replaces the former
      // df.cache().count() pre-pass, which materialized every append
      // twice (count + write) and paid one extra job per commit (r17
      // optimization; a cluster deployment would collect the same counts
      // from the write tasks' commit messages, which is exactly what
      // Iceberg's commit protocol does).
      val counted = Files.walk(staging).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
        .map(p => p -> footer(p.toString)(_.getBlocks.asScala.map(_.getRowCount).sum))
      // Q10: nothing to publish (an all-empty write may still stage a
      // 0-row schema file — it goes with the staging dir)
      if (counted.map(_._2).sum == 0) Seq.empty
      else counted.map { case (p, n) =>
        // publish: move into the table tree, normalizing Spark's
        // null-partition dir to `name=null` (see renderDir)
        val rel = staging.relativize(p).toString.replace(SparkNullDir, "=null")
        val target = dir.resolve(rel)
        Files.createDirectories(target.getParent)
        Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
        (rel, n)
      }
    } finally if (Files.exists(staging))
      Files.walk(staging).sorted(Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
  }

  // one shared Configuration: constructing one per file re-parses the
  // Hadoop XML config set (~10 ms) — measurable against a KB footer read
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Apply `f` to the parquet footer of one local file — the one footer
    * reader of the sink (row counts, schemas, column stats).
    */
  private[sink] def footer[A](file: String)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): A = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(file).toUri), footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try f(r.getFooter)
    finally r.close()
  }
}
