package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ingest.Pipeline
import graft.queries.IngestQueries

/** Property-style (seeded) JSON → ingest → read-back round trip over
  * the 13-type fixture schema (SURVEY.md §5 strategy 3): randomized
  * records must survive the pipeline value-exactly, and the partition
  * ordinals must obey their invariants (bucket ∈ [0,N), later date ⇒
  * larger day ordinal).
  */
class RoundTripSpec extends SparkSpec {

  private val rng = new scala.util.Random(4242)

  private def randomRecord(id: Int): (String, Map[String, Any]) = {
    val date = f"20${10 + rng.nextInt(30)}%d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
    val time = f"${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d"
    val userId = rng.nextLong()
    val amount = BigDecimal(rng.nextInt(1000000)) / 100
    val count = rng.nextInt()
    val flag = rng.nextBoolean()
    val cat = Seq("web", "api", "batch")(rng.nextInt(3))
    val json =
      s"""{"id":$id,"event_date":"$date","event_time":"$time","user_id":$userId,
         |"category":"$cat","amount":$amount,"score":0.5,"ratio":1.5,
         |"count":$count,"flag":$flag,
         |"payload":{"a":$count,"b":"s$id","c":[1.0],"d":{"k":$id}},
         |"tags":["x"],"attrs":{"a":"b"}}""".stripMargin.replaceAll("\n", "")
    (json, Map("id" -> id.toLong, "date" -> date, "time" -> time,
      "user_id" -> userId, "category" -> cat, "amount" -> amount,
      "count" -> count, "flag" -> flag))
  }

  test("50 randomized records round-trip value-exactly with valid partitions") {
    val recs = (1 to 50).map(randomRecord)
    val root = Files.createTempDirectory("graft_rt_").toString
    val comp = Paths.get(root, "events", "rt")
    Files.createDirectories(comp)
    Files.writeString(comp.resolve("r.json"), recs.map(_._1).mkString("\n"))
    val tdir = s"$root/w/t"
    val res = Pipeline.ingest(spark, root, "rt", IngestQueries.fixtureTable, tdir)
    assert(res.commit.exists(_.rows == 50))

    val back = spark.read.parquet(tdir)
      .select("id", "event_date", "event_time", "user_id", "category",
        "amount", "count", "flag", "event_date_day", "user_id_bucket")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(back.size == 50)
    recs.foreach { case (_, want) =>
      val r = back(want("id").asInstanceOf[Long])
      assert(r.getAs[java.sql.Date]("event_date").toString == want("date"))
      val Array(h, m, s2) = want("time").asInstanceOf[String].split(":").map(_.toInt)
      assert(r.getAs[Long]("event_time") == (h * 3600L + m * 60L + s2) * 1000000000L)
      assert(r.getAs[Long]("user_id") == want("user_id"))
      assert(r.getAs[String]("category") == want("category"))
      assert(BigDecimal(r.getAs[java.math.BigDecimal]("amount")) ==
        want("amount").asInstanceOf[BigDecimal])
      assert(r.getAs[Int]("count") == want("count"))
      assert(r.getAs[Boolean]("flag") == want("flag"))
      // partition invariants
      val uid = want("user_id").asInstanceOf[Long]
      val bucket = r.getAs[Any]("user_id_bucket").toString.toInt
      assert(bucket == (java.lang.Long.hashCode(uid) & Int.MaxValue) % 16)
      assert(r.getAs[Any]("event_date_day").toString == want("date")) // day path = ISO date
    }

    // monotonicity: sort by date ⇒ day ordinal non-decreasing
    val byDate = recs.map(_._2).sortBy(_("date").asInstanceOf[String])
    val ords = byDate.map(w =>
      java.time.LocalDate.parse(w("date").asInstanceOf[String]).toEpochDay)
    assert(ords == ords.sorted)
  }

  test("TIME/TIMESTAMP coerce inside struct, array-of-struct, and map values") {
    import graft.types._
    import graft.ingest.JsonDecode
    val schema = GStruct(Seq(
      GField("id", GLong),
      GField("s", GStruct(Seq(
        GField("t", GTime), GField("ts", GTimestamp), GField("x", GInt)))),
      GField("arr", GList(GStruct(Seq(
        GField("t", GTime), GField("ts", GTimestamp))))),
      GField("m", GMap(GTimestamp))))
    val rows = Seq(
      """{"id":1,"s":{"t":"01:02:03","ts":"2024-03-15T12:00:00Z","x":7},""" +
        """"arr":[{"t":"10:00:00.250","ts":1700000000},{"t":null,"ts":null}],""" +
        """"m":{"k":"2024-01-01T00:00:00Z"}}""",
      """{"id":2}""") // null containers must stay null, not structs-of-null
    val file = Files.createTempDirectory("nested-time").resolve("rows.json")
    Files.write(file, rows.mkString("\n").getBytes("UTF-8"))
    val df = JsonDecode.read(spark, schema, Seq(file.toString))
    val got = df.select(
      col("id"),
      col("s.t"), unix_seconds(col("s.ts")).as("sts"), col("s.x"),
      col("arr")(0).getField("t").as("a0t"),
      unix_seconds(col("arr")(0).getField("ts")).as("a0ts"),
      col("arr")(1).getField("t").as("a1t"),
      unix_seconds(element_at(col("m"), "k")).as("mts"),
      col("s").isNull.as("snull"), col("arr").isNull.as("anull"), col("m").isNull.as("mnull"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("t") == (1 * 3600L + 2 * 60L + 3) * 1000000000L)
    assert(r1.getAs[Long]("sts") == 1710504000L) // 2024-03-15T12:00:00Z
    assert(r1.getAs[Int]("x") == 7)
    assert(r1.getAs[Long]("a0t") == 10 * 3600L * 1000000000L + 250000000L)
    assert(r1.getAs[Long]("a0ts") == 1700000000L) // epoch-seconds number form
    assert(r1.isNullAt(r1.fieldIndex("a1t"))) // null leaf inside array element
    assert(r1.getAs[Long]("mts") == 1704067200L) // 2024-01-01T00:00:00Z
    val r2 = got(2L)
    assert(r2.getAs[Boolean]("snull") && r2.getAs[Boolean]("anull") && r2.getAs[Boolean]("mnull"))
  }
}
