package graft.ingest

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.{CommitInfo, HiveParquetWriter, LakeWriter}
import graft.transform.PartitionTransforms
import graft.types._

/** One partition-spec entry: source column + transform name
  * ("identity" | "year" | "month" | "day" | "hour" | "bucket[N]"),
  * mirroring the reference's `PartitionSpec` consumption
  * (`Utile.java:14-71`). Partition column name defaults to
  * `<source>_<transform>` (bracketed N dropped).
  */
final case class PartitionFieldSpec(source: String, transform: String, name: String)
object PartitionFieldSpec {
  def apply(source: String, transform: String): PartitionFieldSpec =
    PartitionFieldSpec(source, transform,
      s"${source}_${transform.takeWhile(_ != '[')}")
}

/** The table contract the reference loads from its JDBC catalog
  * (`App.java:81-87`): schema + partition spec + location.
  */
final case class TableDef(
    name: String,
    schema: GStruct,
    partitionSpec: Seq[PartitionFieldSpec])

final case class IngestResult(
    sourceFiles: Seq[String],
    commit: Option[CommitInfo])

/** The full ingest pipeline — the reference's `App.main`/`NfsApp.main`
  * loop (`App.java:51-158`, SURVEY.md §3) recomposed on Spark:
  *
  *   list `events/<componentId>/` (A1/A2 prefix filter)
  *     → one schema'd JSON read over ALL pending files (A3-A9; the
  *       reference loops file-at-a-time single-threaded — here every
  *       file is a parallel read split)
  *     → derive partition-transform columns (A10-A16, quirks Q2/Q3/Q4
  *       reproduced; Q8 nulls free)
  *     → repartition on the partition key + Hive-layout parquet append
  *       with one commit per batch (A17-A21; deliberately one snapshot
  *       per batch, not per file × partition — Q6)
  *     → delete consumed sources AFTER the commit (A22 — fixing Q5's
  *       at-most-once hole: a crash before commit now re-ingests
  *       instead of losing data; delivery becomes at-least-once).
  *
  * Q10 (empty input → skip) falls out naturally: zero decoded rows →
  * no files, no commit.
  */
object Pipeline {

  /** `events/<componentId>/` listing — the A1/A2 source operator
    * (`App.java:160-172`, `NfsApp.java:150-162`): non-recursive, keeps
    * regular `*.json` files only. Driver-side, like Spark's own file
    * listing.
    */
  def listPending(baseDir: String, componentId: String): Seq[String] = {
    val dir = Paths.get(baseDir, "events", componentId)
    if (!Files.isDirectory(dir)) Seq.empty
    else scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json"))
      .map(_.toString).toSeq.sorted)
  }

  /** Partition-transform column for a spec entry, *stored value*
    * semantics (`Utile.java:36-63`): identity/year/month/day/hour/
    * bucket[N] with the reference's Q2/Q3/Q4 quirks. TIME columns
    * (nanos-of-day longs) get hour-of-day via integer division — same
    * value the reference's `LocalTime.getHour()` produces (Q3).
    */
  def transformColumn(table: TableDef, p: PartitionFieldSpec): Column = {
    val srcType = table.schema.fields.find(_.name == p.source).map(_.gtype)
    (srcType, p.transform) match {
      case (Some(GTime), "hour") => (col(p.source) / lit(3600000000000L)).cast("int")
      case _ => PartitionTransforms.forName(p.transform, col(p.source))
    }
  }

  /** Partition column rendered for the directory *path* exactly like
    * the reference (A18, `App.java:112-131`): `day` → ISO date of the
    * source value, `month` → `yyyy-MM` recovered from the Q2 ordinal
    * (`year = m/12`, `month = m%12+1`, `App.java:122-127`), everything
    * else the raw transform value. Null → `null` (the reference's
    * `String.valueOf`), rendered by the sink's writer.
    */
  def pathColumn(table: TableDef, p: PartitionFieldSpec): Column = p.transform match {
    case "day" => date_format(col(p.source).cast("date"), "yyyy-MM-dd")
    case "month" =>
      val m = transformColumn(table, p)
      format_string("%04d-%02d", (m / 12).cast("int"), pmod(m, lit(12)) + 1)
    case _ => transformColumn(table, p).cast("string")
  }

  /** Attach the partition path columns to a decoded frame (batch or
    * streaming). */
  def withPathColumns(table: TableDef, decoded: DataFrame): DataFrame =
    table.partitionSpec.foldLeft(decoded) { (df, p) =>
      df.withColumn(p.name, pathColumn(table, p))
    }

  /** Decode pending files and attach the partition path columns. */
  def decode(spark: SparkSession, table: TableDef, files: Seq[String]): DataFrame =
    withPathColumns(table, JsonDecode.read(spark, table.schema, files))

  /** Full batch ingest for one component. Exactly-once: sources that
    * already appear in a committed snapshot (crash between commit and
    * delete, or `deleteSources=false` re-runs) are skipped via the
    * commit log's source ledger.
    */
  def ingest(
      spark: SparkSession,
      baseDir: String,
      componentId: String,
      table: TableDef,
      tableDir: String,
      writer: LakeWriter = new HiveParquetWriter,
      deleteSources: Boolean = true): IngestResult = {
    val done = graft.sink.GraftLog.committedSources(tableDir)
    val files = listPending(baseDir, componentId)
      .filterNot(f => done.contains(sourceKey(f)))
    if (files.isEmpty) return IngestResult(Seq.empty, None)
    val df = decode(spark, table, files)
    val commit = {
      val c = writer.append(df, table.partitionSpec.map(_.name), tableDir,
        sources = files.map(sourceKey))
      if (c.rows == 0) None else Some(c) // Q10: empty batch → no commit
    }
    // A22 with Q5 fixed: sources removed only after the commit landed.
    if (deleteSources) files.foreach(f => Files.deleteIfExists(Paths.get(f)))
    IngestResult(files, commit)
  }

  /** Ledger key for a source file: absolute normalized path. */
  private def sourceKey(f: String): String =
    Paths.get(f).toAbsolutePath.normalize.toString
}
