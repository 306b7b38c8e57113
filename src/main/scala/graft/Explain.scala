package graft

/** Dev tool: print the formatted physical plan (and optionally time)
  * of named queries — the `.explain("formatted")`-and-iterate loop.
  * Usage: Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Harness.session(Harness.envCpus, "ERROR")
    args.tail.foreach { name =>
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
