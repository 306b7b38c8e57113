package graft

import org.apache.spark.sql.functions._

/** Dev mirror of the driver's t1 smoke gate: SparkEntry.entry rows > 0,
  * plus quick fidelity probes of the custom expressions against the JVM.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.envCpus, "ERROR")
    import spark.implicits._

    val e = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${e.count()}")
    e.show(3)

    // JavaHash fidelity probe vs the JVM's own hashCode.
    import graft.functions.JavaHash.javaHash
    val df = Seq(("hello", 42L, 3.14, true), ("wörld", -7L, -0.0, false))
      .toDF("s", "l", "d", "b")
    val got = df.select(javaHash(col("s")), javaHash(col("l")),
      javaHash(col("d")), javaHash(col("b"))).collect().toSeq
    val want = Seq(
      ("hello".hashCode, 42L.hashCode, 3.14.hashCode, true.hashCode),
      ("wörld".hashCode, (-7L).hashCode, (-0.0).hashCode, false.hashCode))
    println(s"JAVAHASH_GOT  $got")
    println(s"JAVAHASH_WANT $want")
    val nulls = Seq[(java.lang.Long, String)]((null, "x")).toDF("l", "s")
      .select(javaHash(col("l"))).collect().toSeq
    println(s"JAVAHASH_NULL $nulls")
    spark.stop()
  }
}
