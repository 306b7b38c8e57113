package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Dev tool (r16): [[RunOne]]'s shape over EVERY declared query,
  * skipping the ones the table dir cannot serve (degenerate fixtures
  * carry documents.parquet only) — so a partial fixture can sweep the
  * whole battery that applies to it without hand-maintaining the
  * doc-only list (the r15 hand list silently missed the multimodal
  * family, and with it a real codepoint-vs-byte oracle bug).
  * Usage: RunTolerant <tableDir> <outDir>
  */
object RunTolerant {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val ran = scala.collection.mutable.Buffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try {
        q(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        ran += name
      } catch {
        case e: Exception =>
          println(s"SKIP $name: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      } finally spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql.filter(kv => ran.contains(kv._1))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(oracle)(DefaultFormats))
    println(s"RAN ${ran.size} of ${SparkEntry.queries.size}")
    spark.stop()
  }
}
