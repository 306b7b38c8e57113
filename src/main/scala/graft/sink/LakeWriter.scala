package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

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
  *  - a partition value has one form, its directory string
  *    ([[HiveParquetWriter.render]]): null and `""` render as `null`
  *    like the reference (`String.valueOf(null)`);
  *  - the commit record carries the row count the write job observed
  *    and the table schema, partition columns as strings, as Iceberg's
  *    metadata does: no file is opened after the write, and readers
  *    infer nothing.
  *
  * Write path at scale: [[HiveParquetWriter.writeFiles]] repartitions by
  * the partition key first (one shuffle, A17), so each task writes at
  * most a few partition directories instead of every task writing
  * every partition — the many-small-files failure mode at 1000
  * executors.
  */
final class HiveParquetWriter extends LakeWriter {

  override def append(df: DataFrame, partitionCols: Seq[String], tableDir: String,
      sources: Seq[String] = Seq.empty): CommitInfo = {
    val (files, rows) = HiveParquetWriter.writeFiles(df, partitionCols, tableDir)
    if (rows == 0) return CommitInfo(0, Seq.empty, 0) // Q10: empty input → no snapshot
    val rec = GraftLog.commit(tableDir, "append", rows, files, sources,
      Some(HiveParquetWriter.dataSchema(df, partitionCols)))
    CommitInfo(rec.snapshotId, rec.files, rows)
  }
}

object HiveParquetWriter {

  /** The partition columns as the directory strings they name: cast to
    * string, and null or `""` become `null` (the reference's
    * `String.valueOf(null)`). Spark then names the directory itself and
    * never writes its own null directory.
    */
  private[sink] def render(df: DataFrame, partitionCols: Seq[String]): DataFrame =
    df.withColumns(partitionCols.map { c =>
      val v = df(c).cast("string")
      c -> when(v.isNull || v === "", lit("null")).otherwise(v)
    }.toMap)

  /** The table schema a write records: data columns in frame order, then
    * the partition columns as strings (the order Spark reads them in). */
  private[sink] def dataSchema(df: DataFrame, partitionCols: Seq[String]): StructType =
    StructType(df.schema.filterNot(f => partitionCols.contains(f.name)) ++
      partitionCols.map(StructField(_, StringType)))

  /** Stage + publish data files under `tableDir` (no commit record).
    * Returns the published relative paths and the rows written, counted
    * by the write job itself: an observed `count` on the frame the
    * writer consumes — after the repartition, where AQE cannot drop the
    * metric by replacing an empty stage. A missing metric throws: a
    * silent 0 would skip the commit while the caller still deletes its
    * sources. Nothing is published for 0 rows (Q10; an all-empty write
    * may still stage a 0-row schema file). The `_staging_*` dir is
    * removed whether the write succeeds or fails.
    */
  private[sink] def writeFiles(
      df: DataFrame, partitionCols: Seq[String], tableDir: String): (Seq[String], Long) = {
    val dir = Paths.get(tableDir)
    Files.createDirectories(dir)
    val staging = dir.resolve(s"_staging_${java.util.UUID.randomUUID()}")
    try {
      val counted = Observation()
      val rendered = render(df, partitionCols)
      (if (partitionCols.isEmpty) rendered else rendered.repartition(partitionCols.map(col): _*))
        .observe(counted, count(lit(1)).as("rows"))
        .write.partitionBy(partitionCols: _*).parquet(staging.toString)
      val rows = counted.get.getOrElse("rows", throw new IllegalStateException(
        s"write to $tableDir reported no row count")).asInstanceOf[Long]
      val files = if (rows == 0) Seq.empty else Files.walk(staging).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.map { p =>
          val rel = staging.relativize(p).toString // publish into the table tree
          val target = dir.resolve(rel)
          Files.createDirectories(target.getParent)
          Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
          rel
        }
      (files, rows)
    } finally if (Files.exists(staging))
      Files.walk(staging).sorted(Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
  }

  // one shared Configuration: constructing one per file re-parses the
  // Hadoop XML config set (~10 ms) — measurable against a KB footer read
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Apply `f` to the parquet footer of one local file — the sink's
    * reader of column stats ([[LakeOps.fileStats]]).
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
