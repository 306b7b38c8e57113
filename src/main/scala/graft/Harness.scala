package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.queries.QueryDef

/** What every main shares: the session settings, the query selection,
  * the between-query isolation step and the correctness dump loop.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, default 4: the core count of the harness mains. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A local session on `cpus` cores with as many shuffle partitions,
    * in UTC, without the web UI.
    */
  def session(cpus: Int, logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The declared queries sorted by name, restricted to the
    * comma-separated names in `only` when it is given. An unknown name
    * throws, listing every unknown name. The order is fixed because Map
    * iteration order changes as queries are added, which would hand
    * residual first-execution JIT to a different query each round and
    * make Bench's per-query numbers incomparable round over round.
    */
  def select(only: Option[String]): Seq[QueryDef] = {
    val all = SparkEntry.allQueries.sortBy(_.name)
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => all
      case Some(names) =>
        val unknown = names -- all.map(_.name)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
        all.filter(q => names(q.name))
    }
  }

  /** [[select]] over `SPARK_GRAFT_ONLY`; unset selects every query. */
  def selected: Seq[QueryDef] = select(sys.env.get("SPARK_GRAFT_ONLY"))

  /** Runs `df`'s full plan and discards the rows. Unlike `count()`,
    * Catalyst cannot prune projections or drop the final sort.
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drops everything the previous query persisted, so the next one is
    * not measured under its memory pressure. `clearCache` only covers
    * cache-manager entries; a `localCheckpoint`'s blocks (the iterative
    * rows' round boundaries) are plain persisted RDDs the catalog never
    * sees, and would otherwise linger until the ContextCleaner reaches
    * them mid-measurement. Every invocation rebuilds its own lineage, so
    * nothing a later query could reuse is dropped.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Writes each query's result to `<outDir>/<name>` as one parquet
    * file, isolating after each, then the oracle SQL of the listed rows
    * to `<outDir>/oracle_sql.json`. A query that throws leaves no output
    * dir. When `tolerant` is false the oracle lists every query (the
    * correctness-gate contract); when true it lists only the queries
    * that wrote output, so a partial fixture can sweep every query that
    * applies to it.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[QueryDef], tolerant: Boolean): Unit = {
    new java.io.File(outDir).mkdirs()
    val ran = queries.filter { q =>
      val out = s"$outDir/${q.name}"
      try {
        q.query(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out)
        true
      } catch { case e: Throwable =>
        val p = new Path(out)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        val why = s"${q.name}: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
        if (tolerant) println(s"SKIP $why") else System.err.println(s"[verify] failed $why")
        false
      } finally isolate(spark)
    }
    val listed = if (tolerant) ran else queries
    val oracle = ListMap(listed.flatMap(q => q.oracle.map(q.name -> _)): _*)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(oracle)(DefaultFormats))
    if (tolerant) println(s"RAN ${ran.size} of ${queries.size}")
  }
}
