package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.SparkEntry
import graft.ingest.{JsonDecode, PartitionFieldSpec, Pipeline, TableDef}
import graft.sink.{CommitInfo, GraftLog, HiveParquetWriter, LakeOps, LakeWriter}
import graft.streaming.StreamingIngest
import graft.types._

/** The benchmark's table: the 13 types of the ingest fixture table, plus
  * a top-level TIMESTAMP and a list<timestamp> inside `payload`, so decode
  * runs the nested timestamp coercion. Spec day x bucket[16] x identity
  * gives high output fan-out; the stream table drops the bucket so its
  * file count tracks commits.
  */
object BenchTable {
  val schema: GStruct = GStruct(Seq(
    GField("id", GLong, required = true),
    GField("event_date", GDate),
    GField("event_time", GTime),
    GField("event_ts", GTimestamp),
    GField("user_id", GLong),
    GField("category", GString),
    GField("amount", GDecimal(10, 2)),
    GField("score", GDouble),
    GField("ratio", GFloat),
    GField("count", GInt),
    GField("flag", GBoolean),
    GField("payload", GStruct(Seq(
      GField("a", GInt), GField("b", GString),
      GField("c", GList(GDouble)), GField("d", GMap(GInt)),
      GField("ts_list", GList(GTimestamp))))),
    GField("tags", GList(GString)),
    GField("attrs", GMap(GString))))

  val bulk: TableDef = TableDef("bench_events", schema, Seq(
    PartitionFieldSpec("event_date", "day"),
    PartitionFieldSpec("user_id", "bucket[16]"),
    PartitionFieldSpec("category", "identity")))

  val stream: TableDef = TableDef("bench_stream", schema, Seq(
    PartitionFieldSpec("event_date", "day"),
    PartitionFieldSpec("category", "identity")))
}

/** One generated batch of source files (see gen.py). */
final case class Batch(dir: String, files: Seq[String], rows: Long, malformed: Long,
    bytes: Long, parts: Map[String, Long], day: String)

/** The sink the pipeline is handed: `HiveParquetWriter` behind the public
  * `writer` parameter, so the append is timed on its own.
  */
final class TimedWriter(tr: Tracer) extends LakeWriter {
  private val inner = new HiveParquetWriter
  @volatile var commits: List[CommitInfo] = Nil
  override def append(df: DataFrame, partitionCols: Seq[String], tableDir: String,
      sources: Seq[String]): CommitInfo = {
    val c = tr.span("sink.append")(inner.append(df, partitionCols, tableDir, sources))
    synchronized { commits = c :: commits }
    if (tr.layers) tr.note("sink.commit", Map("files" -> c.files.size,
      "bytes" -> c.files.map(f => Files.size(Paths.get(tableDir, f))).sum))
    c
  }
}

/** Checked operations: a false check counts as a failed operation. */
final class Checks {
  var attempted, failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def apply(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

/** The closed-loop client: one operation at a time from this thread. */
final class Bench(spark: SparkSession, tr: Tracer, work: Path, check: Checks,
    seconds: Double) {
  val writer = new TimedWriter(tr)
  private var deadline = Long.MaxValue

  /** Opens the measured window. */
  def start(): Unit = deadline = System.nanoTime() + (seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < deadline

  def freshDir(kind: String): String = {
    val d = work.resolve(s"$kind${Bench.dirSeq.incrementAndGet()}")
    Files.createDirectories(d)
    d.toString
  }

  /** Hard-links (or moves) a batch's files into `<base>/events/<component>/`. */
  def offer(b: Batch, base: String, component: String, move: Boolean = false): Unit = {
    val dst = Paths.get(base, "events", component)
    Files.createDirectories(dst)
    b.files.foreach { f =>
      val src = Paths.get(b.dir, f)
      if (move) Files.move(src, dst.resolve(f)) else Files.createLink(dst.resolve(f), src)
    }
  }

  def pending(base: String, component: String): Int = {
    val d = Paths.get(base, "events", component)
    if (!Files.isDirectory(d)) 0 else Files.list(d).iterator().asScala.size
  }

  /** Live files and their bytes, noted after an operation (untimed). */
  def noteTable(tableDir: String, pass: Int, rows: Long, lines: Long, opBytes: Long,
      tableInputBytes: Long): Unit = {
    val live = GraftLog.liveFiles(tableDir)
    tr.note("table", Map("pass" -> pass, "rows" -> rows, "lines" -> lines, "op_bytes" -> opBytes,
      "input_bytes" -> tableInputBytes, "snapshots" -> GraftLog.records(tableDir).size,
      "live_files" -> live.size, "stored_bytes" -> live.map(f => Files.size(Paths.get(tableDir, f))).sum))
  }

  /** The separately timed pieces of the ingest path (traced run only). */
  private def probeDecode(table: TableDef, b: Batch, base: String, component: String,
      tableDir: String): Unit =
    if (tr.layers) {
      tr.span("probe.ledger")(GraftLog.committedSources(tableDir))
      tr.span("probe.list")(Pipeline.listPending(base, component))
      // the batch's own files: a stream source still holds the previous wave
      val files = b.files.map(f => Paths.get(base, "events", component, f).toString)
      tr.span("probe.decode")(Pipeline.decode(spark, table, files)
        .write.format("noop").mode("overwrite").save())
      tr.span("probe.read")(JsonDecode.read(spark, table.schema, files)
        .write.format("noop").mode("overwrite").save())
    }

  /** One batch `Pipeline.ingest` into a fresh table, then its checks.
    * The per-partition read-back is timed `reads` times over.
    */
  def ingest(b: Batch, pass: Int, what: String, reads: Int = 1): Unit = {
    val base = freshDir("in")
    val tableDir = freshDir("table") + "/t"
    offer(b, base, "bulk")
    probeDecode(BenchTable.bulk, b, base, "bulk", tableDir)
    val res = tr.op("op.ingest", Map("pass" -> pass)) {
      Pipeline.ingest(spark, base, "bulk", BenchTable.bulk, tableDir, writer)
    }
    val rows = res.commit.map(_.rows).getOrElse(0L)
    noteTable(tableDir, pass, rows, b.rows + b.malformed, b.bytes, b.bytes)
    check(s"$what: committed rows", rows == b.rows)
    check(s"$what: sources deleted", pending(base, "bulk") == 0)
    (1 to reads).foreach { k =>
      val got = read(pass, tableDir)(scan(tableDir) { df =>
        df.groupBy(BenchTable.bulk.partitionSpec.map(p => col(p.name).cast("string")): _*)
          .count().collect()
          .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}" -> r.getLong(3)).toMap
      })
      check(s"$what: per-partition counts (read $k)", got == b.parts)
    }
    // re-offering the same sources must commit nothing (exactly-once ledger)
    offer(b, base, "bulk")
    val again = Pipeline.ingest(spark, base, "bulk", BenchTable.bulk, tableDir, writer)
    check(s"$what: re-run commits nothing",
      again.commit.isEmpty && GraftLog.records(tableDir).size == 1)
  }

  /** A timed read operation, made of one or more [[scan]]s. */
  def read[T](pass: Int, tableDir: String)(body: => T): T = {
    if (tr.layers)
      tr.note("log.snapshots", Map("n" -> tr.span("log.records")(GraftLog.records(tableDir)).size))
    tr.op("op.read", Map("pass" -> pass))(body)
  }

  /** One table read: plan (call to DataFrame returned), then execution. */
  def scan[T](tableDir: String, snapshot: Option[Long] = None)(exec: DataFrame => T): T = {
    val df = tr.span("read.plan")(snapshot match {
      case Some(s) => LakeOps.readSnapshot(spark, tableDir, s)
      case None    => LakeOps.readTable(spark, tableDir)
    })
    if (tr.layers) tr.note("read.files", Map("n" -> df.inputFiles.length))
    tr.span("read.exec")(exec(df))
  }

  /** Stands a fresh table up through the workload's own path: a first
    * batch ingest or stream wave of `b`, then a first read.
    */
  def setupRep(b: Batch, stream: Boolean): Unit = {
    val base = freshDir("in")
    val tableDir = freshDir("table") + "/t"
    val rows =
      if (stream) {
        val before = writer.commits.size
        offer(b, base, "stream", move = true)
        StreamingIngest.ingestAvailableNow(spark, base, "stream", BenchTable.stream, tableDir,
          freshDir("ckpt"), writer).awaitTermination()
        writer.commits.take(writer.commits.size - before).map(_.rows).sum
      } else {
        offer(b, base, "bulk")
        Pipeline.ingest(spark, base, "bulk", BenchTable.bulk, tableDir, writer)
          .commit.map(_.rows).getOrElse(0L)
      }
    val n = LakeOps.readTable(spark, tableDir).count()
    check("setup: committed rows", rows == b.rows && n == b.rows)
  }

  /** Batch ingests until time is up, and at least two. Before [[start]]
    * it runs one per batch of `pool`, each read back once.
    */
  def bulkLoad(pool: Seq[Batch]): Unit = {
    val warm = deadline == Long.MaxValue
    var i = 0
    while (if (warm) i < pool.size else timeLeft || i < 2) {
      ingest(pool(i % pool.size), i, s"bulk op $i", if (warm) 1 else Bench.ReadsPerIngest)
      i += 1
    }
  }

  /** Waves on one checkpoint and one table: each wave is one AvailableNow
    * drain of a few hundred tiny files of the next day, then a
    * partition-filtered count of every day so far and a time-travel count
    * at the table's first wave. Every [[Bench.WavesPerTable]] waves
    * the stream starts over on a fresh table, so a read's history depth
    * does not depend on how many waves the run managed. Before [[start]]
    * it runs each of `waves` once.
    */
  def streamTrickle(waves: Seq[Batch]): Unit = {
    var base, tableDir, ckpt = ""
    var cumulative, inputBytes = 0L
    var waveEnds = Vector.empty[(Long, Long)] // (snapshot id, cumulative rows)
    var i = 0
    // the window closes with a table's last wave, and not before two
    // tables, so every run reads the same mix of history depths
    while (i < waves.size &&
        (timeLeft || i % Bench.WavesPerTable != 0 || i < 2 * Bench.WavesPerTable)) {
      val w = waves(i)
      if (i % Bench.WavesPerTable == 0) {
        base = freshDir("in"); tableDir = freshDir("table") + "/t"; ckpt = freshDir("ckpt")
        cumulative = 0L; inputBytes = 0L; waveEnds = Vector.empty
      }
      offer(w, base, "stream", move = true)
      probeDecode(BenchTable.stream, w, base, "stream", tableDir)
      val before = writer.commits.size
      tr.op("op.wave", Map("pass" -> i)) {
        val q = tr.span("streaming.start")(StreamingIngest.ingestAvailableNow(
          spark, base, "stream", BenchTable.stream, tableDir, ckpt, writer))
        tr.span("streaming.await")(q.awaitTermination())
      }
      val fresh = writer.commits.take(writer.commits.size - before)
      cumulative += w.rows
      inputBytes += w.bytes
      noteTable(tableDir, i, fresh.map(_.rows).sum, w.rows + w.malformed, w.bytes, inputBytes)
      check(s"wave $i: committed rows", fresh.map(_.rows).sum == w.rows)
      if (fresh.nonEmpty) waveEnds :+= (fresh.map(_.snapshotId).max -> cumulative)
      // event dates arrive in time order, so every day so far is the whole table
      val (total, travel) = read(i, tableDir) {
        (scan(tableDir)(_.filter(col("event_date_day") <= lit(w.day)).count()),
          waveEnds.lastOption.map { _ =>
            val (snap, expect) = waveEnds.head
            (snap, expect, scan(tableDir, Some(snap))(_.count()))
          })
      }
      check(s"wave $i: total count", total == cumulative)
      travel.foreach { case (snap, expect, n) =>
        check(s"wave $i: time-travel count at snapshot $snap", n == expect)
      }
      i += 1
    }
  }

  private lazy val queries = SparkEntry.queries
  private val hashes = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]

  private def isolate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs one query row, checks that its output hash equals the first
    * run's, and returns the rows and schema.
    */
  private def query(r: String, pass: Int): (Array[org.apache.spark.sql.Row], DataFrame) = {
    var df: DataFrame = null
    val got = tr.op("op.query", Map("pass" -> pass, "row" -> r)) {
      df = queries(r)(spark, tablesDir)
      df.collect()
    }
    isolate()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    got.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    val h = md.digest().map("%02x".format(_)).mkString
    val seen = hashes.getOrElse(r, Nil)
    check(s"$r pass $pass: output hash equals the first run's", seen.headOption.forall(_ == h))
    hashes(r) = seen :+ h
    (got, df)
  }

  private var tablesDir = ""

  /** Untimed first run of every row, before the window: it warms the
    * rows, writes each row's output for the oracle check and fixes the
    * hash every later run must repeat.
    */
  def warmQueries(tables: String, rows: Seq[String], out: Path, probe: Batch): Unit = {
    tablesDir = tables
    rows.foreach { r =>
      val (got, df) = query(r, -1)
      spark.createDataFrame(got.toSeq.asJava, df.schema).coalesce(1).write
        .parquet(out.resolve("rows").resolve(r).toString)
    }
    implicit val f: Formats = DefaultFormats
    Files.writeString(out.resolve("oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql.filter(kv => rows.contains(kv._1))))
    // the set-up's ingests read with a plain count; this warms the probes'
    // read-back (and the ingest path again, after the rows) so the first
    // timed read is not a cold one
    ingest(probe, -1, "warm probe")
  }

  /** Passes of: every row once, each after a tiny ingest with
    * [[Bench.ReadsPerIngest]] reads. Interleaving spreads the probes over
    * the whole pass, so the read and ingest medians do not hang on how
    * fast the host was during a few seconds of it. The window closes
    * after the row running when time is up, but not before one whole
    * pass ran, so every row has a timed run.
    */
  def queryMix(probes: Seq[Batch], rows: Seq[String]): Unit = {
    var pass = 0
    var k = 0
    while (timeLeft || pass == 0) {
      ingest(probes((pass * rows.size + k) % probes.size), pass, s"pass $pass probe $k",
        Bench.ReadsPerIngest)
      query(rows(k), pass)
      k += 1
      if (k == rows.size) { k = 0; pass += 1 }
    }
  }
}

object Bench {
  private val dirSeq = new java.util.concurrent.atomic.AtomicInteger()
  val WavesPerTable = 2
  // Times a bulk or probe ingest's read-back is timed. One read per
  // ingest left read_p50_ms a median of two or three samples (spreads up
  // to 0.26 over ten runs). A fresh table's first read misses the
  // program's footer-schema cache and takes about twice a repeat's time;
  // with three repeats to each first read the median sits inside the
  // repeats, not between the two kinds.
  val ReadsPerIngest = 4
}

object Main {
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def batches(jv: JValue): Seq[Batch] = {
    implicit val f: Formats = DefaultFormats
    jv match {
      case JArray(xs) => xs.map { b =>
        Batch((b \ "dir").extract[String], (b \ "files").extract[Seq[String]],
          (b \ "rows").extract[Long], (b \ "malformed").extract[Long], (b \ "bytes").extract[Long],
          (b \ "parts").extract[Map[String, Long]], (b \ "day").extractOrElse[String](""))
      }
      case _ => Seq.empty
    }
  }

  private val MB = 1024.0 * 1024

  /** Heap still reachable after a full collection, and the non-heap in
    * use (class metadata, JIT code), in MB. Cached data is dropped first
    * (a query row's cache is otherwise released asynchronously), and the
    * first collection lets Spark's context cleaner drop the blocks of
    * unreachable broadcasts and shuffles; the second one counts what is
    * left.
    */
  private def liveMemMb(spark: SparkSession): (Double, Double) = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed / MB, m.getNonHeapMemoryUsage.getUsed / MB)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val manifest = JsonMethods.parse(Files.readString(Paths.get(opt("manifest"))))
    val work = Paths.get(opt("work"))
    val out = Paths.get(opt("out"))
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val mixRows = opt("rows").split(",").toSeq
    val gcPeak = new GcPeak
    Files.createDirectories(out)

    val tr = new Tracer(traced)
    val check = new Checks
    val spark = session(cores, work)
    // Set-up, repeated; it also warms the measured path.
    val setupS = batches(manifest \ "setup").map { b =>
      val t0 = System.nanoTime()
      new Bench(spark, tr, work, check, 0).setupRep(b, opt("workload") == "stream_trickle")
      (System.nanoTime() - t0) / 1e9
    }
    val bench = new Bench(spark, tr, work, check, opt("seconds").toDouble)
    var warmS = 0.0
    var error: Option[String] = None
    val listener = new RuntimeListener(tr)
    var runStart, runEnd = 0.0
    try {
      val tables = manifest \ "tables" match { case JString(t) => t; case _ => "" }
      // One untimed pass before the window: its operations end before
      // runStart, so no metric counts them. (The query mix warms its rows
      // and then one probe.)
      val t0 = System.nanoTime()
      opt("workload") match {
        case "bulk_load"      => bench.bulkLoad(batches(manifest \ "warm"))
        case "stream_trickle" => bench.streamTrickle(batches(manifest \ "warm"))
        case "query_mix"      => bench.warmQueries(tables, mixRows, out, batches(manifest \ "setup").head)
      }
      warmS = (System.nanoTime() - t0) / 1e9
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        spark.streams.addListener(new ProgressListener(tr))
      }
      runStart = tr.now()
      bench.start()
      opt("workload") match {
        case "bulk_load"      => bench.bulkLoad(batches(manifest \ "bulk"))
        case "stream_trickle" => bench.streamTrickle(batches(manifest \ "stream"))
        case "query_mix"      => bench.queryMix(batches(manifest \ "probe"), mixRows)
      }
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        check("operation completed", ok = false)
    }
    runEnd = tr.now()
    if (traced) listener.drain()
    val (liveHeap, nonHeap) = liveMemMb(spark)

    implicit val formats: Formats = DefaultFormats
    Files.write(out.resolve("spans.jsonl"), tr.all.map(s => Serialization.write(
      s.attrs ++ Map("name" -> s.name, "start" -> s.start, "end" -> s.end))).asJava)
    Files.writeString(out.resolve("result.json"), Serialization.write(Map(
      "attempted" -> check.attempted,
      "failed" -> check.failed,
      "failures" -> check.failures.toList,
      "error" -> error.orNull,
      "setup_s" -> setupS,
      "run_start" -> runStart, "run_end" -> runEnd,
      "warm_s" -> warmS,
      "peak_heap_after_gc_mb" -> gcPeak.peak / MB,
      "live_heap_mb" -> liveHeap,
      "non_heap_mb" -> nonHeap,
      "spark_version" -> spark.version,
      "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))))
    spark.stop()
  }
}
