package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, StreamingQueries}

/** The declared streaming rows (`stream_tumbling_e2e` /
  * `stream_session_e2e`) checked against an independent BATCH
  * re-derivation of the same semantics on the same sf0.001 data — the
  * Spark-side mirror of what the DuckDB oracle asserts: append mode
  * emits exactly the windows closed by the final watermark, and the
  * sessionizer emits exactly the gap-closed (non-tail) sessions.
  */
class StreamingQueriesSpec extends SparkSpec {

  private def run(name: String) =
    StreamingQueries.entries.find(_.name == name).get.query(spark, sfDir)

  test("stream_tumbling_e2e: emitted set == batch windows closed by final watermark") {
    val got = run("stream_tumbling_e2e").collect().toSeq
    assert(got.nonEmpty, "streaming drain emitted nothing — watermark flush batch missing")

    val e = Tables(spark, sfDir, "events")
      .select(col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val wm = e.agg(max("ts")).head().getTimestamp(0).getTime - 600000L
    val expected = e
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .filter((unix_millis(col("ws")) + 3600000L) <= wm)
      .orderBy("ws", "event_type")
      .collect().toSeq
    assert(got == expected)

    // and the restriction is REAL: at least one tail window was withheld
    val all = e.groupBy(date_trunc("hour", col("ts")), col("event_type")).count().count()
    assert(got.size < all, "no window was withheld — watermark restriction untested")
  }

  test("stream_session_e2e: emitted set == batch islands minus each user's open tail") {
    val got = run("stream_session_e2e").collect().toSeq
    assert(got.nonEmpty)

    val e = Tables(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("user_id").orderBy("ts")
    val sess = e
      .withColumn("new_s",
        when(lag("ts", 1).over(w).isNull ||
          (unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w))) >= 600000000L,
          1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("sess_start"), max("ts").as("sess_end"),
        count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val maxSid = sess.groupBy("user_id").agg(max("sid").as("max_sid"))
    val expected = sess.join(maxSid, "user_id")
      .filter(col("sid") < col("max_sid"))
      .select("user_id", "sess_start", "sess_end", "n", "sum_cents")
      .orderBy("user_id", "sess_start")
      .collect().toSeq
    assert(got == expected)

    // every user with ≥1 emitted session must have exactly one withheld
    // (open) tail session — the append-mode contract
    val emittedUsers = got.map(_.getLong(0)).toSet
    val allSessByUser = sess.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    emittedUsers.foreach { u =>
      val emitted = got.count(_.getLong(0) == u)
      assert(allSessByUser(u) == emitted + 1)
    }
  }

  test("declared streaming rows re-run cleanly in one session (Bench reps)") {
    val a = run("stream_tumbling_e2e").collect().toSeq
    val b = run("stream_tumbling_e2e").collect().toSeq
    assert(a == b)
    val c = run("stream_ss_join_e2e").collect().toSeq
    val d = run("stream_ss_join_e2e").collect().toSeq
    assert(c == d && c.nonEmpty)
  }

  test("stream_neardup_e2e == driver-side band verdicts; stateless keys == " +
      "agg-path arithmetic; owner is arrival-order free (r14)") {
    import spark.implicits._
    // driver-side replica of the MinHash(8) + 4x2 band keys
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val P = 2147483647L
    val A = Seq(529959061L, 726648389L, 171676003L, 913871213L,
      330279721L, 464937097L, 604389403L, 247615843L)
    val B = Seq(117767609L, 326150957L, 892849843L, 503800931L,
      78126601L, 645859441L, 287709941L, 735603829L)
    val corpus = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    def bandsOf(text: String): Seq[(Int, Long, Long)] = {
      val ts = text.split(" ", -1)
      val shs = ts.sliding(3).filter(_.length == 3).map(_.mkString(" "))
        .toSeq.distinct
      if (shs.isEmpty) Seq.empty
      else {
        val h32 = shs.map(x => java.lang.Long.parseLong(
          md5hex(x).substring(0, 8), 16))
        val sig = (0 until 8).map(i => h32.map(h => (h * A(i) + B(i)) % P).min)
        (0 until 4).map(b => (b, sig(2 * b), sig(2 * b + 1)))
      }
    }
    val docBands = corpus.flatMap { case (id, t) =>
      bandsOf(t).map { case (b, k1, k2) => (id, b, k1, k2) } }
    // the signature kernel's band keys == the replica, doc by doc
    val docs = Tables(spark, sfDir, "documents")
    val keys = DedupQueries.minhashBandKeys(docs)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(keys.sorted == docBands.sorted)
    // the one pair builder == the driver-side band-collision pairs
    val wantPairs = docBands.groupBy(r => (r._2, r._3, r._4)).values
      .flatMap { rows =>
        val ids = rows.map(_._1).distinct.sorted
        for (i <- ids; j <- ids if i < j) yield (i, j)
      }.toSet
    val gotPairs = DedupQueries.bandPairs(DedupQueries.minhashBandKeys(docs))
      .as[(Long, Long)].collect().toSeq
    assert(wantPairs.nonEmpty && gotPairs.size == wantPairs.size &&
      gotPairs.toSet == wantPairs)
    // edge docs: 2 tokens and null text give no rows; repeated windows
    // sign like the same windows once each
    val edge = Seq((1L, "two tokens"), (2L, null: String),
      (3L, "a b c a b c a b c"), (4L, "a b c a b")).toDF("doc_id", "text")
    val edgeKeys = DedupQueries.minhashBandKeys(edge)
      .as[(Long, Int, Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(r => (r._2, r._3, r._4)).sorted }
    assert(edgeKeys.keySet == Set(3L, 4L))
    assert(edgeKeys(3L) == edgeKeys(4L) && edgeKeys(4L) == bandsOf("a b c a b"))
    val owners = docBands.groupBy(r => (r._2, r._3, r._4))
      .map { case (k, rows) => k -> (rows.map(_._1).min, rows.size.toLong) }
    val want = docBands.groupBy(_._1).toSeq.map { case (id, rows) =>
      val lost = rows.count(r => owners((r._2, r._3, r._4))._1 < id).toLong
      val mates = rows.map(r => owners((r._2, r._3, r._4))._2 - 1L).sum
      (id, lost, mates, if (lost > 0) 1L else 0L)
    }.sortBy(_._1)
    val got = run("stream_neardup_e2e")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want)
    // the band machinery is live: the fixture's planted near-dups
    // collide (some candidate exists) and not everything collides
    val nc = got.count(_._4 == 1L)
    assert(nc > 0 && nc < got.size, s"degenerate candidate set: $nc/${got.size}")
    // re-run in one session is byte-stable (Bench reps + MIN owner is
    // arrival-order independent)
    val again = run("stream_neardup_e2e")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(again == got)
  }
}
