package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.ingest.Pipeline
import graft.streaming.StreamingIngest
import graft.types.TableSpecJson

/** Operational entry point — the reference's `App.main`/`NfsApp.main`
  * replacement, configured by environment variables like the
  * reference's env contract (`env.sh`, `App.java:52-63`, SURVEY.md
  * A23), but filesystem + table-spec based (no Azure SDK or JDBC
  * catalog in this environment; the source/catalog boundaries are the
  * `listPending` and `TableSpecJson.load` seams):
  *
  *   GRAFT_BASE_PATH     base dir containing `events/<component>/` (≈ NFS_BASE_PATH)
  *   GRAFT_COMPONENT_ID  component to drain (≈ COMPONENT_ID)
  *   GRAFT_TABLE_SPEC    path to the JSON table spec (≈ catalog+namespace+table)
  *   GRAFT_WAREHOUSE     warehouse dir; table lands at <warehouse>/<tableName>
  *   GRAFT_MODE          "batch" (default) or "streaming" (AvailableNow drain)
  *   GRAFT_CHECKPOINT    checkpoint dir (streaming mode)
  *   GRAFT_KEEP_SOURCE   set to "1" to keep consumed files (default: delete after commit)
  *   GRAFT_CPUS          local parallelism (default 4)
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    def env(k: String): String = sys.env.getOrElse(k,
      throw new IllegalArgumentException(s"$k is required"))
    val base = env("GRAFT_BASE_PATH")
    val component = env("GRAFT_COMPONENT_ID")
    val table = TableSpecJson.load(env("GRAFT_TABLE_SPEC"))
    val tableDir = s"${env("GRAFT_WAREHOUSE")}/${table.name}"
    val cpus = sys.env.getOrElse("GRAFT_CPUS", "4")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      sys.env.getOrElse("GRAFT_MODE", "batch") match {
        case "streaming" =>
          val q = StreamingIngest.ingestAvailableNow(
            spark, base, component, table, tableDir, env("GRAFT_CHECKPOINT"))
          q.awaitTermination()
          println(Serialization.write(
            ListMap("mode" -> "streaming", "table" -> table.name))(DefaultFormats))
        case _ =>
          val r = Pipeline.ingest(spark, base, component, table, tableDir,
            deleteSources = !sys.env.get("GRAFT_KEEP_SOURCE").contains("1"))
          val (snap, rows) = r.commit.map(c => (c.snapshotId, c.rows)).getOrElse((-1L, 0L))
          println(Serialization.write(ListMap("mode" -> "batch", "table" -> table.name,
            "files" -> r.sourceFiles.size, "rows" -> rows, "snapshot" -> snap))(DefaultFormats))
      }
    } finally spark.stop()
  }
}
