package graft
import org.apache.spark.sql.SparkSession

/** Timing run: each selected query through the noop sink, min of
  * `SPARK_GRAFT_BENCH_REPS` (default 2) reps plus their spread, as one
  * JSON line on stdout and in `dev/bench_last.json`. Reads
  * `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_ONLY` (a
  * subset run); `SPARK_GRAFT_NO_QUIET_WAIT` skips the quiet-window gate.
  */
object Bench {

  /** The untimed warm-up Bench runs before timing anything; other dev
    * tools call it to measure under Bench's exact conditions.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try {
      import org.apache.spark.sql.functions._
      // The REAL PPJoin pair plan on a 2000-doc slice (not a hand-rolled
      // lookalike): identical plan shapes → identical generated sources →
      // Janino cache hits + C2-compiled join/agg machinery before any
      // pair query is timed (dev/PERF_NOTES.md round-4).
      // Broadcast disabled for the warm-up only: AQE would broadcast the
      // 2000-doc slice's joins, compiling BHJ codegen while the timed
      // full-size queries run sort-merge — warm the SMJ shapes instead.
      val prevBT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try Harness.noop(graft.queries.DedupQueries.warmPairs(spark, sfDir, 2000))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBT)
      spark.catalog.clearCache()
      // Touch the events table too (footer read + JSON-path and
      // timestamp-function codegen): r3 charged ~8 s of this first-scan
      // cost to whichever events query ran first (q_json_extract).
      // k and y MUST be consumed by the aggregate: column pruning would
      // otherwise delete them and the JSON-path/timestamp codegen this
      // exists to warm would never run.
      Harness.noop(Tables(spark, sfDir, "events").limit(20000)
        .select(col("event_type"), get_json_object(col("props"), "$.k").as("k"),
          year(col("ts")).as("y"))
        .groupBy("event_type").agg(count(col("k")).as("nk"), count(col("y")).as("ny")))
    } catch { case _: Throwable => () }
  }

  /** The 1/5/15-minute load averages as /proc/loadavg prints them, or
    * empty if unreadable. */
  private def loadavg: Seq[String] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split(" ").take(3).toSeq
    catch { case _: Throwable => Nil }

  /** 1-minute loadavg, or 0.0 if unreadable. */
  private def load1: Double = loadavg.headOption.map(_.toDouble).getOrElse(0.0)

  // Quiet-window gate thresholds: CPU busy %, the loadavg fallback's
  // threshold, and the longest wait in seconds.
  private val QuietBusyPct = 20.0
  private val QuietLoad = 1.0
  private val QuietWaitMaxSec = 300

  /** (busy, total) jiffies from /proc/stat's aggregate `cpu` line.
    * iowait counts as IDLE: on this box uninterruptible-I/O tasks hold
    * the 1-min loadavg at 2-3 while the CPU is 93%+ free
    * (dev/PERF_NOTES.md r12), which is exactly the state the old
    * loadavg<1.0 gate mis-read as contention and burned its full wait
    * on (r12 verdict #5 / ADVICE #4).
    */
  private def cpuStat: Option[(Long, Long)] =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      val total = f.sum
      val idle = f(3) + (if (f.length > 4) f(4) else 0L) // idle + iowait
      Some((total - idle, total))
    } catch { case _: Throwable => None }

  /** CPU busy %% sampled over `ms`, or -1.0 where /proc/stat doesn't
    * exist (non-Linux) — callers fall back to the loadavg gate there. */
  private def busyPct(ms: Long): Double = {
    val a = cpuStat
    Thread.sleep(ms)
    val b = cpuStat
    (a, b) match {
      case (Some((b0, t0)), Some((b1, t1))) if t1 > t0 =>
        100.0 * (b1 - b0) / (t1 - t0)
      case _ => -1.0
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = Harness.selected
    // Quiet-window gate (r11 verdict #4, reworked r13 per r12 verdict #5
    // / ADVICE #4): the r10 stream failures and r11's 1.5× inflated
    // official total were both ambient load overlapping the bench.
    // min-of-reps absorbs one transient spike, not sustained contention
    // — so if the box is busy at start, WAIT (bounded) before timing
    // anything, and record the pre-wait state in the artifact so an
    // inflated run is adjudicable. The r11-r12 gate read /proc/loadavg,
    // which counts D-state (uninterruptible-I/O) tasks: this box idles
    // at loadavg 2-3 with the CPU 93%+ free, so a genuinely quiet run
    // burned the full wait and emitted a spurious warning while r12's
    // driver bench started 15% inflated anyway. Gate on /proc/stat CPU
    // busy%% instead (iowait = idle), threshold QuietBusyPct; where
    // /proc/stat is unreadable fall back to loadavg against QuietLoad.
    // SPARK_GRAFT_NO_QUIET_WAIT=1 skips (dev sweeps and subset runs where
    // ambient load is the measurement's own context).
    val loadAtStart = load1
    val busyAtStart = busyPct(1000)
    var quietWaitSec = 1
    var busyAtGate = busyAtStart
    if (!sys.env.contains("SPARK_GRAFT_NO_QUIET_WAIT")) {
      if (busyAtStart >= 0) {
        while (busyAtGate > QuietBusyPct && quietWaitSec < QuietWaitMaxSec) {
          Thread.sleep(3000L)
          busyAtGate = busyPct(2000) // fresh 2 s sample, no decay lag
          quietWaitSec += 5
        }
        if (busyAtGate > QuietBusyPct)
          System.err.println(s"WARN: CPU still ${busyAtGate}%% busy after " +
            s"${quietWaitSec}s quiet wait — timings below may be contention-inflated")
      } else {
        // non-Linux fallback: the old loadavg gate
        while (load1 >= QuietLoad && quietWaitSec < QuietWaitMaxSec) {
          Thread.sleep(10000L)
          quietWaitSec += 10
        }
        if (load1 >= QuietLoad)
          System.err.println(s"WARN: loadavg still ${load1} after ${quietWaitSec}s " +
            "quiet wait — timings below may be contention-inflated")
      }
    }
    val spark = Harness.session(Harness.envCpus, "WARN")
    // Untimed warm-up: the first Spark job in a fresh JVM pays ~4.6 s of
    // scheduler/parquet/codegen-framework bootstrap regardless of what it
    // computes (measured: first count() of a 5k-row parquet 4.62 s, the
    // same count again 0.35 s — dev/PERF_NOTES.md). Paying it here keeps
    // that one-time charge out of whichever query happens to run first,
    // so per-query numbers are comparable across rounds even when map
    // iteration order changes.
    // It also exercises the shared expression primitives (split/explode,
    // md5+conv, groupBy collect_list/sort_array, posexplode/slice, a
    // self-join) on a 2000-document slice — enough row-loop iterations
    // to push the hot methods past C2 compile thresholds before any
    // query is timed: otherwise whichever dedup query runs first in
    // map-iteration order absorbs several seconds of one-time JIT and
    // the per-query numbers flip between rounds (dev/PERF_NOTES.md
    // round-3 isolation: r1 charged it to q_minhash_dup, r2 to
    // q_dedup_ngram).
    warmUp(spark, sfDir)
    // Ambient-load context: PERF_NOTES documents 1.7–2.9× wall-clock
    // inflation from driver background load at sf0.1, which makes
    // single-run round-over-round comparisons meaningless on their own.
    // /proc/loadavg (1/5/15-min averages) rides along — captured both
    // before and after the sweep — so a regression can be adjudicated
    // against the machine state it ran under (BENCH_r06 rows were
    // 15–45× off clean steady state with exit loadavg 13.94; the
    // single after-the-fact sample couldn't say when the load arrived).
    val loadBefore = loadavg.mkString("[", ",", "]")
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { Harness.noop(fn(spark, sfDir)); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      Harness.isolate(spark)
      // a query that throws must not masquerade as a fast success
      if (ok) dt else -1.0
    }
    // Two timed reps per query, report the MIN: a transient load spike (or
    // a co-running process) inflates one rep, not both — min is the
    // closest observable to the query's uncontended cost, which is what
    // regression judging needs (BENCH_r06 single-rep rows were 15–45×
    // off clean steady state). rep_spread = max/min per query rides
    // along: spread ≈ 1 means the row is trustworthy; spread >> 1 flags
    // external interference on that row specifically. Env-overridable
    // (SPARK_GRAFT_BENCH_REPS=1) for dev scale sweeps where four
    // full-surface runs would otherwise double their wall time.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val results = queries.map { q =>
      // A rep that throws yields -1; keep every successful rep. A query
      // that succeeds on rep 1 but flakes on rep 2 (OOM under ambient
      // load — the very condition min-of-reps targets) still has a valid
      // measurement: report min of the SUCCESSFUL reps and surface the
      // flake through the `flaky` counter instead of discarding the row
      // as failed (r7 advice).
      // Short-circuit a deterministically-failing query (r8 advice): once
      // TWO consecutive reps have failed, re-running it can only double
      // the wasted wall time (a slow failure — minutes of spill before
      // the throw — is the expensive case). The two-failure floor (r9
      // advice) keeps a single-rep flake eligible for its retry: a query
      // that flakes on rep 1 but succeeds on rep 2 reports
      // flaky-with-a-valid-min, not failed=-1 — the r7 accounting. A
      // query with at least one SUCCESSFUL rep keeps running its
      // remaining reps so min-of-reps and the flaky counter stay
      // meaningful.
      val times = Iterator.continually(timeOne(q.query))
        .scanLeft(Seq.empty[Double])(_ :+ _).drop(1)
        .find(ts => ts.size == reps || (ts.size >= 2 && ts.forall(_ < 0))).get
      val good = times.filter(_ >= 0)
      val best = if (good.isEmpty) -1.0 else good.min
      val spread = if (best <= 0) -1.0 else good.max / best
      (q.name, best, spread, good.size < times.size && good.nonEmpty)
    }
    // Locale.ROOT: f"$x%.2f" uses the JVM default locale, which under a
    // comma-decimal locale (de_DE…) emits "1,23" — invalid JSON (r7 advice).
    def fmt(x: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(x))
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, s, _) =>
      "\"" + k + "\":" + fmt(s, 2) }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val flaky = results.count(_._4)
    val total = results.map(_._2).filter(_ >= 0).sum
    val loadAfter = loadavg.mkString("[", ",", "]")
    // Full per-query record, named dicts. The driver's artifact keeps only
    // the LAST ~2000 chars of stdout, which cannot hold 163 full-name
    // entries (~3.6 KB at 3 decimals) — BENCH_r07 lost every per-query
    // second to that clipping. So: (1) the full line is also written to
    // dev/bench_last.json, where round-over-round comparison can always
    // read it; (2) the FINAL stdout line is a compact (~1.6 KB) complete
    // JSON that fits the tail whole — per-query millisecond and
    // spread-percent arrays aligned to the query names sorted ascending
    // (the order above), with names_md5 = md5 of the comma-joined sorted
    // names so a decoder can confirm alignment.
    val tMs = results.map { case (_, v, _, _) =>
      if (v < 0) "-1" else math.round(v * 1000).toString }.mkString("[", ",", "]")
    val spreadPct = results.map { case (_, _, s, _) =>
      if (s < 0) "-1" else math.round((s - 1) * 100).toString }.mkString("[", ",", "]")
    val namesMd5 = {
      val joined = results.map(_._1).mkString(",")
      java.security.MessageDigest.getInstance("MD5")
        .digest(joined.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    }
    val fullLine = s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","failed":$failed,"flaky":$flaky,"loadavg_at_start":${fmt(loadAtStart, 2)},"cpu_busy_at_start":${fmt(busyAtStart, 1)},"cpu_busy_at_gate":${fmt(busyAtGate, 1)},"quiet_wait_sec":$quietWaitSec,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"loadavg":$loadAfter,"sf":"$sfDir","order":"names-sorted-asc","names_md5":"$namesMd5","t_ms":$tMs,"spread_pct":$spreadPct,"queries":$qs,"rep_spread":$spreads}"""
    // Anchored path + loud failure (r8 advice): a cwd-relative write with
    // a swallowed Throwable silently dropped the full per-query record
    // whenever Bench ran outside the repo root. SPARK_GRAFT_REPO
    // overrides; otherwise prefer a cwd that looks like a repo checkout
    // (has a dev/ dir), falling back to cwd itself (r9 advice: no
    // machine-specific absolute path baked into source — on a foreign
    // checkout the write lands next to where Bench ran, and a failure
    // is already loud below).
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO", {
      // walk up from cwd to the nearest dir that already has dev/
      // (a repo checkout); fall back to cwd itself
      val cwd = java.nio.file.Paths.get("").toAbsolutePath
      Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
        .find(p => java.nio.file.Files.isDirectory(p.resolve("dev")))
        .getOrElse(cwd).toString
    })
    val benchLast = java.nio.file.Paths.get(repoRoot, "dev", "bench_last.json")
    try java.nio.file.Files.createDirectories(benchLast.getParent)
    catch { case _: Throwable => () }
    try java.nio.file.Files.writeString(benchLast, fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"WARN: could not write $benchLast: $e") }
    println(fullLine)
    // FINAL stdout line stays under 1 KB so the driver's ~2000-char tail
    // capture always holds it whole (r17 verdict #2: r16's
    // round-over-round comparison was LOST because the 242-entry
    // t_ms/spread_pct arrays pushed the final line past the tail and
    // json parse got a head-truncated string). The per-query record —
    // named seconds, t_ms/spread_pct arrays, names_md5 — lives in the
    // fullLine above (still printed, for full-stdout captures) and in
    // dev/bench_last.json (always readable from the checkout).
    println(s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","n":${results.size},"failed":$failed,"flaky":$flaky,"loadavg_at_start":${fmt(loadAtStart, 2)},"cpu_busy_at_start":${fmt(busyAtStart, 1)},"cpu_busy_at_gate":${fmt(busyAtGate, 1)},"quiet_wait_sec":$quietWaitSec,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"sf":"$sfDir","order":"names-sorted-asc","names_md5":"$namesMd5","per_query_in":"dev/bench_last.json"}""")
    spark.stop()
  }
}
