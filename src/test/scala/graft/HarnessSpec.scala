package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.JsonMethods.parse

import graft.queries.QueryDef

/** The shared harness steps every main runs: selection, isolation and
  * the correctness dump loop.
  */
class HarnessSpec extends SparkSpec {

  test("isolate drops cached frames and localCheckpoint blocks") {
    val cached = spark.range(100).toDF("x").cache()
    cached.count()
    spark.range(100).toDF("x").localCheckpoint()
    assert(spark.sparkContext.getPersistentRDDs.size >= 2)
    Harness.isolate(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("dump: a failing row stays in the strict oracle, leaves the tolerant one, writes no dir") {
    val ok = QueryDef("ok", (s, _) => s.range(3).toDF("x"), Some("SELECT 1"))
    // raise_error over a range fails inside the write job, after the
    // output dir exists, not while the frame is built
    val bad = QueryDef("bad",
      (s, _) => s.range(3).select(raise_error(lit("boom")).as("x")), Some("SELECT 2"))
    for ((tolerant, want) <- Seq(false -> Set("ok", "bad"), true -> Set("ok"))) {
      val out = Files.createTempDirectory("graft_dump").toString
      Harness.dump(spark, sfDir, out, Seq(bad, ok), tolerant)
      val oracle = parse(Files.readString(Paths.get(out, "oracle_sql.json")))
        .extract[Map[String, String]](DefaultFormats, implicitly)
      assert(oracle.keySet == want, s"tolerant=$tolerant")
      assert(spark.read.parquet(s"$out/ok").count() == 3)
      assert(!Files.exists(Paths.get(out, "bad")), s"tolerant=$tolerant")
    }
  }

  test("select: SPARK_GRAFT_ONLY names are trimmed and come back sorted; unknown names fail") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(Harness.select(None).map(_.name) == names)
    val (a, b) = (names(0), names(1))
    assert(Harness.select(Some(s" $b , $a ")).map(_.name) == Seq(a, b))
    val e = intercept[IllegalArgumentException](Harness.select(Some(s"$a,q_typo,q_nope")))
    assert(e.getMessage.contains("q_nope, q_typo"))
  }
}
