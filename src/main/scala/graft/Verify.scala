package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev convenience: SPARK_GRAFT_ONLY=q_a,q_b restricts the dump to the
    // named queries (the driver never sets it — full sweep by default)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        spark.catalog.clearCache()
        // localCheckpoint blocks (iterative round boundaries) are not
        // cache-manager entries; drop them so a 242-query sweep doesn't
        // accumulate dead storage blocks (same isolation as Bench)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    val oracle = SparkEntry.oracleSql.filter(kv => only.forall(_(kv._1)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(oracle)(DefaultFormats))
    spark.stop()
  }
}
