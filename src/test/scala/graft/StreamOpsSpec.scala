package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps

/** Streaming operators driven through MemoryStream micro-batches:
  * watermark drops late rows, windows finalize in append mode, and the
  * stateful sessionizer closes sessions across batch boundaries.
  */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window with watermark: late row dropped, windows finalize") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.tumblingCounts(
      in.toDF().toDF("ts", "event_type", "value"),
      windowLen = "1 hour", lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("tumbling")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((ts("2024-01-01 10:05:00"), "a", 1.0),
        (ts("2024-01-01 10:45:00"), "a", 2.0),
        (ts("2024-01-01 11:05:00"), "b", 3.0))
      q.processAllAvailable()
      // watermark is now 11:05-10m = 10:55 → hour-10 window NOT yet final
      in.addData((ts("2024-01-01 12:30:00"), "b", 4.0)) // advances wm to 12:20
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:50:00"), "a", 99.0)) // LATE: before 12:20 wm
      q.processAllAvailable()
      in.addData((ts("2024-01-01 14:00:00"), "c", 0.0)) // finalize hour 11,12
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select(col("ws").cast("string"), col("event_type"), col("n"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
      // hour-10 'a' window emitted with the two on-time rows, late 99.0 dropped
      assert(rows.contains(("2024-01-01 10:00:00", "a", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 11:00:00", "b", 1L, 3.0)))
      assert(rows.contains(("2024-01-01 12:00:00", "b", 1L, 4.0)))
    } finally q.stop()
  }

  test("dedupStream: duplicates within the watermark horizon dropped, state expires") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = StreamOps.dedupStream(
      in.toDF().toDF("ts", "user_id", "event_type"),
      keys = Seq("user_id", "event_type"), lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:01:00"), 1L, "a"), // dup within horizon → dropped
        (ts("2024-01-01 10:00:30"), 2L, "a"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:02:00"), 1L, "a")) // still within horizon → dropped
      q.processAllAvailable()
      // advance the watermark far past 10:00 + 10m: state for (1,a) expires
      in.addData((ts("2024-01-01 11:00:00"), 3L, "b"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 11:00:01"), 1L, "a")) // expired key → re-emitted
      q.processAllAvailable()
      val rows = spark.table("dedup")
        .select(col("user_id"), col("event_type"), col("ts").cast("string"))
        .as[(Long, String, String)].collect().toSeq
      assert(rows.count(r => r._1 == 1L && r._2 == "a") == 2) // first + post-expiry
      assert(rows.count(r => r._1 == 2L) == 1 && rows.count(r => r._1 == 3L) == 1)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer: gap closes a session across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.sessionize(in.toDS(), gapMs = 10 * 60 * 1000,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1: two events 5m apart (one session), then a 30m gap
      in.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:05:00"), 2.0))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 10:35:00"), 5.0)) // gap > 10m → closes session 1
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select(col("userId"), col("start").cast("string"), col("end").cast("string"),
          col("events"), col("totalValue"))
        .as[(Long, String, String, Long, Double)].collect().toSet
      assert(rows.contains((1L, "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2L, 3.0)))
    } finally q.stop()
  }

  test("sessionizer EVENT-TIME timeout: open session fires when the watermark passes last + gap, not at it") {
    // Pins the boundary stream_session_wm_e2e's oracle predicate uses
    // (strict <): an open session armed at last + gap must NOT emit
    // while watermark == last + gap, and must emit once the watermark
    // is past it. Lateness 0 keeps the arithmetic crisp.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.sessionize(
      in.toDS().withWatermark("_2", "0 seconds"), gapMs = 10 * 60 * 1000,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())
    val q = out.writeStream.format("memory").queryName("sessions_wm")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def rows() = spark.table("sessions_wm")
      .select(col("userId"), col("start").cast("string"),
        col("end").cast("string"), col("events"))
      .as[(Long, String, String, Long)].collect().toSet
    try {
      // batch 1: u1's lone event — timeout armed at 10:10:00
      in.addData((1L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      assert(rows().isEmpty)
      // batch 2: filler on another key pushes the watermark exactly TO
      // the boundary (wm = 10:10:00 after this batch, lateness 0);
      // the no-data flush batch then runs with that watermark
      in.addData((9L, ts("2024-01-01 10:10:00"), 1.0))
      q.processAllAvailable()
      assert(rows().isEmpty,
        s"session emitted AT watermark == last + gap: ${rows()}")
      // batch 3: one second past the boundary — u1's session is final
      in.addData((9L, ts("2024-01-01 10:10:01"), 1.0))
      q.processAllAvailable()
      assert(rows().contains((1L, "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1L)),
        s"session not emitted after watermark passage: ${rows()}")
      // u9's own open session never fires in this drain (inside horizon)
      assert(rows().size == 1, s"open-tail session leaked: ${rows()}")
    } finally q.stop()
  }

  test("stream-stream interval join: matches across batches, late rows dropped after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Timestamp, Long, Long)]
    val buysIn = MemoryStream[(Timestamp, Long, Long)]
    val clicks = clicksIn.toDF().toDF("c_ts", "user_id", "c_cents")
      .withWatermark("c_ts", "10 minutes")
    val buys = buysIn.toDF().toDF("b_ts", "b_user", "b_cents")
      .withWatermark("b_ts", "10 minutes")
    val joined = clicks.join(buys,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("c_ts") &&
        col("b_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("c_ts").cast("string"), col("b_ts").cast("string"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: a click, no purchase yet — buffered in join state
      clicksIn.addData((ts("2024-01-01 10:00:00"), 1L, 100L))
      q.processAllAvailable()
      // batch 2: matching purchase arrives LATER — cross-batch match
      buysIn.addData((ts("2024-01-01 10:10:00"), 1L, 500L))
      q.processAllAvailable()
      // batch 3: both watermarks jump to ~19:50 (state far behind
      // evicted: clicks before wm − 30 min, purchases before wm)
      clicksIn.addData((ts("2024-01-01 20:00:00"), 2L, 1L))
      buysIn.addData((ts("2024-01-01 20:00:00"), 9L, 1L))
      q.processAllAvailable()
      // batch 4: a purchase 9.5 h behind the watermark — in range of
      // the u1 click but LATE: dropped on admission, no match emitted
      buysIn.addData((ts("2024-01-01 10:20:00"), 1L, 900L))
      q.processAllAvailable()
      val rows = spark.table("ssjoin")
        .as[(Long, String, String)].collect().toSet
      assert(rows == Set((1L, "2024-01-01 10:00:00", "2024-01-01 10:10:00")),
        s"expected exactly the cross-batch match, got $rows")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: null-padded row emits only after watermark passes leftTs + window") {
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Timestamp, Long, Long)]
    val buysIn = MemoryStream[(Timestamp, Long, Long)]
    val joined = StreamOps.intervalJoin(
      clicksIn.toDF().toDF("c_ts", "user_id", "c_cents"), "user_id", "c_ts",
      buysIn.toDF().toDF("b_ts", "b_user", "b_cents"), "b_user", "b_ts",
      window = "30 minutes", lateness = "10 minutes", joinType = "leftOuter")
      .select(col("user_id"), col("c_ts").cast("string"),
        col("b_ts").cast("string"))
    val q = joined.writeStream.format("memory").queryName("ssleft")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def rows() = spark.table("ssleft").as[(Long, String, String)].collect().toSet
    try {
      // batch 1: u1 matched click, u2 unmatched click. The match emits
      // data-driven (inner path); the u2 null row must NOT emit yet —
      // its 30-min window is still open, a purchase could still arrive
      clicksIn.addData(
        (ts("2024-01-01 10:00:00"), 1L, 100L),
        (ts("2024-01-01 10:00:00"), 2L, 100L))
      buysIn.addData((ts("2024-01-01 10:10:00"), 1L, 500L))
      q.processAllAvailable()
      assert(rows() == Set((1L, "2024-01-01 10:00:00", "2024-01-01 10:10:00")),
        s"null row emitted before watermark closed the window: ${rows()}")
      // batch 2: advance BOTH watermarks to exactly 10:30 = u2's
      // c_ts + window. Eviction is strict (state lives while
      // c_ts + window >= watermark), so u2 still must not emit —
      // this pins the boundary the oracle's finalization predicate uses
      clicksIn.addData((ts("2024-01-01 10:40:00"), 3L, 1L))
      buysIn.addData((ts("2024-01-01 10:40:00"), 9L, 1L))
      q.processAllAvailable()
      assert(rows().size == 1,
        s"null row emitted AT the boundary watermark == c_ts + window: ${rows()}")
      // batch 3: one more microsecond of watermark — now c_ts + window
      // < watermark and the u2 null-padded row is final
      clicksIn.addData((ts("2024-01-01 10:40:01"), 4L, 1L))
      buysIn.addData((ts("2024-01-01 10:40:01"), 9L, 1L))
      q.processAllAvailable()
      assert(rows().contains((2L, "2024-01-01 10:00:00", null)),
        s"null-padded row missing after watermark passage: ${rows()}")
      // the open-tail clicks (u3, u4) never emit in this drain: their
      // windows are still inside the watermark horizon
      assert(rows().size == 2, s"open-tail click leaked: ${rows()}")
    } finally q.stop()
  }

  test("chained join→agg: the interval join DELAYS the downstream watermark by the join window") {
    // The stream_join_agg_e2e topology reduced to a controlled corpus:
    // inner interval join (30-min window, 10-min lateness) feeding a
    // 1-hour tumbling agg on c_ts. The pin: the agg's window does NOT
    // finalize when the plain watermark (max ts − lateness) passes its
    // end — only when the JOIN-DELAYED watermark (wm − 30 min) does.
    // This is the cross-operator propagation rule the declared oracle
    // encodes (wend ≤ wm − lateness − join window); without the delay
    // the engine could emit an hour window while a late-but-admissible
    // purchase could still create a pair inside it.
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Timestamp, Long, Long)]
    val buysIn = MemoryStream[(Timestamp, Long, Long)]
    val joined = StreamOps.intervalJoin(
      clicksIn.toDF().toDF("c_ts", "user_id", "c_cents"), "user_id", "c_ts",
      buysIn.toDF().toDF("b_ts", "b_user", "b_cents"), "b_user", "b_ts",
      window = "30 minutes", lateness = "10 minutes", joinType = "inner")
      .select(col("c_ts"), (col("c_cents") + col("b_cents")).as("pair_cents"))
      .groupBy(window(col("c_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_pairs"), sum("pair_cents").as("sum_cents"))
      .select(col("window.start").cast("string").as("ws"),
        col("n_pairs"), col("sum_cents"))
    val q = joined.writeStream.format("memory").queryName("joinagg")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def rows() = spark.table("joinagg").as[(String, Long, Long)].collect().toSet
    try {
      // batch 1: one converted pair in the hour-10 window
      clicksIn.addData((ts("2024-01-01 10:05:00"), 1L, 100L))
      buysIn.addData((ts("2024-01-01 10:10:00"), 1L, 500L))
      q.processAllAvailable()
      assert(rows().isEmpty, s"window emitted at wm 0: ${rows()}")
      // batch 2: both watermarks → 11:15 (rows at 11:25, non-matching
      // users). The PLAIN watermark has passed the window end (11:00 ≤
      // 11:15) — an agg fed directly would finalize here — but the
      // join-delayed watermark is 10:45 < 11:00, and a purchase at
      // 11:15 ∈ [c_ts, c_ts+30m] of a 10:59 click could still land in
      // this window, so it must NOT emit
      clicksIn.addData((ts("2024-01-01 11:25:00"), 3L, 1L))
      buysIn.addData((ts("2024-01-01 11:25:00"), 9L, 1L))
      q.processAllAvailable()
      assert(rows().isEmpty,
        s"hour-10 window emitted while join state could still feed it: ${rows()}")
      // batch 3: watermarks → 11:30 exactly; delayed wm = 11:00 = wend.
      // Finalization is STRICT past the delayed watermark (measured —
      // the propagated watermark sits at (wm − join window) with the
      // engine emitting only wend strictly below it), so the boundary
      // batch must NOT emit; the declared oracle therefore uses <,
      // not ≤
      clicksIn.addData((ts("2024-01-01 11:40:00"), 4L, 1L))
      buysIn.addData((ts("2024-01-01 11:40:00"), 9L, 1L))
      q.processAllAvailable()
      assert(rows().isEmpty,
        s"emission AT the delayed-watermark boundary — the oracle's strict < " +
          s"no longer matches the engine: ${rows()}")
      // batch 4: one second past — unambiguously final
      clicksIn.addData((ts("2024-01-01 11:40:01"), 5L, 1L))
      buysIn.addData((ts("2024-01-01 11:40:01"), 9L, 1L))
      q.processAllAvailable()
      assert(rows() == Set(("2024-01-01 10:00:00", 1L, 600L)),
        s"pair window missing past the delayed watermark: ${rows()}")
    } finally q.stop()
  }

  test("neardup flush: restarted stream's state holds only post-flush " +
      "buckets, and the flushed index reproduces the one-shot verdict (r15)") {
    import graft.queries.{DedupQueries, StreamingQueries}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val t = (maxId + 1L) / 2L
    def nBuckets(d: org.apache.spark.sql.DataFrame): Long =
      DedupQueries.minhashBandKeys(d)
        .select("band", "k1", "k2").distinct().count()
    val b1 = nBuckets(docs.filter(col("doc_id") < t))
    val b2 = nBuckets(docs.filter(col("doc_id") >= t))
    val bAll = nBuckets(docs)
    val (verdict, stateRows) =
      StreamingQueries.neardupFlushRun(spark, sfDir)
    // the declared verdict is an AT-REST parquet read (a production job
    // writes the per-doc verdict to the lake and downstream reads it) —
    // never a driver-collected local frame (r15 verdict #1)
    assert(verdict.inputFiles.nonEmpty &&
      verdict.inputFiles.forall(_.contains("graft_ndverdict")),
      s"verdict must read off the at-rest verdict store: " +
        s"${verdict.inputFiles.take(3).mkString(",")}")
    assert(verdict.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isEmpty, "verdict must not be a driver-rebuilt LocalRelation")
    // the engine's own state metrics: each phase's state is exactly
    // its OWN half's distinct buckets — the restart did not inherit
    // phase-1 state (that is the flush bound)
    assert(stateRows == Seq(b1, b2),
      s"per-phase state $stateRows != per-half buckets ${Seq(b1, b2)}")
    // and the bound bites: the corpus has more buckets than either half
    assert(bAll > b2 && bAll > b1,
      s"fixture degenerate: all=$bAll halves=($b1,$b2) — no shared buckets")
    // the verdict read off the flushed index == the unbounded one-shot
    // stream's verdict (MIN/SUM merge associativity, engine-to-engine)
    val oneShot = SparkEntry.queries("stream_neardup_e2e")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(verdict.collect().map(_.toSeq).toSeq == oneShot)
  }

  test("neardup periodic flush: stateless stream, multiple in-run " +
      "merges, staging bounded and cleared, index == one-shot (r16)") {
    import graft.queries.{DedupQueries, StreamingQueries}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bandRows = DedupQueries.minhashBandKeys(docs).count() // 4 per doc
    val (verdict, ledger, peakState) =
      StreamingQueries.neardupPeriodicRun(spark, sfDir)
    // the engine's own metrics: the in-stream topology holds NO state —
    // aggregation is fully delegated to the at-rest staging + merge
    assert(peakState == 0L, s"stream must be stateless, got $peakState")
    // 4 input splits at everyN=2 → two mid-run merges, both while the
    // stream was live (the third would be the tail flush, here empty)
    assert(ledger.size >= 2, s"expected ≥2 in-run flushes: $ledger")
    // the bound bites: every inter-flush staged delta is strictly
    // smaller than the corpus's band-key volume (state O(docs since
    // last flush), never O(corpus)), and each flush covered ≤ everyN
    // micro-batches
    ledger.foreach { case (nBatches, nStaged) =>
      assert(nBatches <= 2L && nStaged > 0L && nStaged < bandRows,
        s"flush ($nBatches batches, $nStaged staged) vs corpus $bandRows")
    }
    // declared verdict is the at-rest read, and == the unbounded
    // one-shot stream's verdict (MIN/SUM associativity across ANY
    // batch slicing / flush cadence)
    assert(verdict.inputFiles.nonEmpty &&
      verdict.inputFiles.forall(_.contains("graft_ndverdict")))
    val oneShot = SparkEntry.queries("stream_neardup_e2e")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(verdict.collect().map(_.toSeq).toSeq == oneShot)
  }

  test("neardup flush: a first half with no shingleable doc flushes nothing " +
      "and the second half still builds the index") {
    import spark.implicits._
    import graft.queries.StreamingQueries
    val root = java.nio.file.Files.createTempDirectory("graft_ndshort_")
    // ids 0-3 (phase 1) all have < 3 tokens: their bucket table is empty
    Seq((0L, "short doc"), (1L, "x y"), (2L, "tiny"), (3L, "a b"),
      (4L, "the quick brown fox jumps over"), (5L, "the quick brown fox jumps over"),
      (6L, "lazy dog sleeps all day long"), (7L, "something else entirely here now"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$root/documents.parquet")
    val (flushed, stateRows) = StreamingQueries.neardupFlushRun(spark, root.toString)
    val got = flushed.as[(Long, Long, Long, Long)].collect().toSeq
    // 4 docs x 4 bands, docs 4 and 5 share all four buckets
    assert(stateRows == Seq(0L, 12L), s"per-phase state $stateRows")
    assert(got == StreamingQueries.neardupPeriodicRun(spark, root.toString)._1
      .as[(Long, Long, Long, Long)].collect().toSeq)
    assert(got.map(r => r._1 -> r._4) == Seq(4L -> 0L, 5L -> 1L, 6L -> 0L, 7L -> 0L))
  }

  test("periodic staging append is replay-fenced: a crash-replayed " +
      "micro-batch cannot double-count, before OR after a flush (r17)") {
    import graft.queries.{DedupQueries, StreamingQueries}
    import graft.sink.GraftLog
    val root = java.nio.file.Files.createTempDirectory("graft_fence_")
    try {
      val tableDir = s"$root/warehouse/neardupindex"
      val stagingDir = s"$root/warehouse/ndstaging"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
      val t = (maxId + 1L) / 2L
      val b0 = DedupQueries.minhashBandKeys(docs.filter(col("doc_id") < t))
      val b1 = DedupQueries.minhashBandKeys(docs.filter(col("doc_id") >= t))
      val key0 = s"stream:$root/ckpt:0"
      val key1 = s"stream:$root/ckpt:1"
      // batch 0 stages its delta, then the process dies BEFORE the
      // checkpoint commit: restart replays batchId 0 — the staging
      // table's own ledger fences the re-append
      val staged0 =
        StreamingQueries.stagePeriodicDelta(b0, stagingDir, tableDir, key0)
      assert(staged0 > 0L)
      assert(StreamingQueries.stagePeriodicDelta(
        b0, stagingDir, tableDir, key0) == 0L,
        "pre-flush replay must be fenced by the staging ledger")
      assert(spark.read.parquet(stagingDir).count() == staged0,
        "fenced replay must not have appended rows")
      // the flush migrates the staged fence keys into the INDEX ledger…
      val (hasData, nStaged) = StreamingQueries.flushStagedDeltas(
        spark, stagingDir, tableDir, indexHasData = false)
      assert(hasData && nStaged == staged0)
      assert(GraftLog.committedSources(tableDir).contains(key0),
        "flush must record the staged batch keys in the index ledger")
      assert(java.nio.file.Files.notExists(
        java.nio.file.Paths.get(stagingDir)), "flush must clear staging")
      // …so a crash between the flush and the checkpoint commit (staging
      // already cleared!) still fences the replayed batch — without the
      // key migration this re-append would double-count n_docs at the
      // next flush (SUM is not idempotent; MIN is)
      assert(StreamingQueries.stagePeriodicDelta(
        b0, stagingDir, tableDir, key0) == 0L,
        "post-flush replay must be fenced by the index ledger")
      assert(java.nio.file.Files.notExists(
        java.nio.file.Paths.get(stagingDir)),
        "a fenced replay must not recreate the staging table")
      // normal progress continues: batch 1 stages + merges, and the
      // fenced index is row-identical to the one-shot bucket table
      assert(StreamingQueries.stagePeriodicDelta(
        b1, stagingDir, tableDir, key1) > 0L)
      StreamingQueries.flushStagedDeltas(
        spark, stagingDir, tableDir, indexHasData = true)
      assert(GraftLog.committedSources(tableDir).contains(key1))
      val idx = graft.sink.LakeOps.readTable(spark, tableDir)
        .select("band", "k1", "k2", "owner", "n_docs")
      val oneShot = DedupQueries.minhashBandKeys(docs)
        .groupBy("band", "k1", "k2")
        .agg(min("doc_id").as("owner"), count(lit(1)).as("n_docs"))
      assert(idx.exceptAll(oneShot).isEmpty && oneShot.exceptAll(idx).isEmpty,
        "fenced index must be row-identical to the one-shot bucket table")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(p =>
          try { java.nio.file.Files.deleteIfExists(p); () }
          catch { case _: Exception => () })
    }
  }

  test("the periodic flush reads staging through its log: a published " +
      "file no commit names is not flushed") {
    import graft.queries.{DedupQueries, StreamingQueries}
    import graft.sink.{GraftLog, LakeOps}
    val root = java.nio.file.Files.createTempDirectory("graft_orphan_")
    try {
      val tableDir = s"$root/warehouse/neardupindex"
      val stagingDir = s"$root/warehouse/ndstaging"
      val keys = DedupQueries.minhashBandKeys(spark.read.parquet(s"$sfDir/documents.parquet"))
      val staged = StreamingQueries.stagePeriodicDelta(keys, stagingDir, tableDir,
        s"stream:$root/ckpt:0")
      assert(staged > 0L)
      // what a crash between publish and commit leaves: a data file in
      // the staging table that no record names
      val f = java.nio.file.Paths.get(stagingDir, GraftLog.liveFiles(stagingDir).head)
      java.nio.file.Files.copy(f, f.resolveSibling(s"orphan-${f.getFileName}"))
      val (hasData, nStaged) = StreamingQueries.flushStagedDeltas(
        spark, stagingDir, tableDir, indexHasData = false)
      assert(hasData && nStaged == staged, s"flushed $nStaged staged rows, committed $staged")
      val nDocs = LakeOps.readTable(spark, tableDir).agg(sum("n_docs")).head().getLong(0)
      assert(nDocs == keys.count(), "n_docs counted an uncommitted file")
    } finally graft.queries.LocalFs.deleteTree(root)
  }

  test("born-late drop: a pre-epoch event time is below Spark's INITIAL " +
      "watermark (epoch 0) and never enters a watermarked operator (r17)") {
    // The class the pre-epoch nasty fixture exposed: the event-time
    // watermark starts at 0 ms, so a 1969 row is late in batch 1
    // regardless of arrival order — every watermarked topology drops
    // it, while the unwatermarked NoTimeout sessionizer keeps it. The
    // driver oracles of the five watermarked stream rows model exactly
    // this boundary (ts >= epoch).
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.tumblingCounts(
      in.toDF().toDF("ts", "event_type", "value"),
      windowLen = "1 hour", lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("bornlate")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((ts("1969-06-15 12:00:00"), "a", 1.0),
        (ts("1969-12-31 23:59:59"), "a", 1.0),
        (ts("2024-01-01 10:05:00"), "a", 1.0))
      q.processAllAvailable()
      // advance the watermark far past the 2024 window so it finalizes
      in.addData((ts("2024-01-01 12:00:00"), "a", 1.0))
      q.processAllAvailable()
      val got = spark.table("bornlate")
        .select(col("ws"), col("n")).as[(Timestamp, Long)].collect().toMap
      assert(got.keySet == Set(ts("2024-01-01 10:00:00")),
        s"only the post-epoch window may finalize, got ${got.keySet}")
      assert(got(ts("2024-01-01 10:00:00")) == 1L,
        "the pre-epoch rows must not be counted anywhere")
    } finally q.stop()
  }
}
