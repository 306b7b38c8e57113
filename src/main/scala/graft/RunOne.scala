package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Dev tool: run a SUBSET of SparkEntry.queries against any table dir
  * and dump result parquet + the matching oracle SQL — Verify's shape
  * without paying for all ~67 queries. For targeted cross-engine checks
  * on purpose-built fixtures (e.g. the non-ASCII simhash corpus).
  * Usage: RunOne <sfDir> <outDir> <queryName> [queryName...]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(oracle)(DefaultFormats))
    spark.stop()
  }
}
