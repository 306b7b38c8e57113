package graft

/** Correctness dump: each selected query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (dev/selfcheck.py).
  * Usage: Verify <sfDir> <outDir> [--tolerant]
  * `SPARK_GRAFT_ONLY=q_a,q_b` restricts the dump to the named queries.
  * `--tolerant` lists only the queries that ran in the oracle file, for
  * partial fixtures (see [[Harness.dump]]).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tolerant) = args match {
      case Array(sf, out) => (sf, out, false)
      case Array(sf, out, "--tolerant") => (sf, out, true)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [--tolerant]")
    }
    val queries = Harness.selected
    val spark = Harness.session(Harness.envCpus, "WARN")
    try Harness.dump(spark, sfDir, outDir, queries, tolerant)
    finally spark.stop()
  }
}
