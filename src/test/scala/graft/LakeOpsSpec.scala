package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.Pipeline
import graft.queries.IngestQueries
import graft.sink.{GraftLog, LakeOps}

/** Lake-table semantics over the commit log: exactly-once re-ingest,
  * snapshot-isolated reads, time travel, compaction as a rewrite
  * snapshot, and snapshot-expiry GC.
  */
class LakeOpsSpec extends SparkSpec {

  private def writeBatch(root: String, comp: String, file: String, ids: Seq[Int]): Unit = {
    val dir = Paths.get(root, "events", comp)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(file), ids.map(i =>
      s"""{"id":$i,"event_date":"2024-03-1${i % 10}","user_id":$i,"category":"c${i % 2}"}""")
      .mkString("\n"))
  }

  /** `body`'s result, the Spark jobs it starts and the task count of each
    * stage it submits, in order. A listener files job and stage starts
    * by job group; a marker job in a group of its own flushes the
    * asynchronous listener bus, which delivers events in order. */
  private def sparkWork[A](body: => A): (A, Int, Seq[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    def group(p: java.util.Properties) =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(group(e.properties))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(group(e.properties) -> e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("under_test", "work under test")
      val out = body
      spark.sparkContext.setJobGroup("under_test_end", "listener flush")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains("under_test_end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.contains("under_test_end"), "listener saw no marker job")
      (out, jobs.asScala.count(_ == "under_test"),
        stages.asScala.collect { case ("under_test", n) => n }.toSeq)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("exactly-once: kept sources are not re-ingested on a second run") {
    val root = Files.createTempDirectory("graft_eo_").toString
    val tdir = s"$root/w/t"
    writeBatch(root, "c1", "a.json", Seq(1, 2, 3))
    val r1 = Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir,
      deleteSources = false)
    assert(r1.commit.exists(_.rows == 3))
    // sources still on disk — a naive re-run would double-ingest
    val r2 = Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir,
      deleteSources = false)
    assert(r2.commit.isEmpty && r2.sourceFiles.isEmpty)
    assert(LakeOps.readTable(spark, tdir).count() == 3)
    // a genuinely new file still ingests
    writeBatch(root, "c1", "b.json", Seq(4))
    val r3 = Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir,
      deleteSources = false)
    assert(r3.commit.exists(_.rows == 1))
    assert(LakeOps.readTable(spark, tdir).count() == 4)
  }

  test("time travel: snapshots are readable as-of their id") {
    val root = Files.createTempDirectory("graft_tt_").toString
    val tdir = s"$root/w/t"
    writeBatch(root, "c1", "a.json", Seq(1, 2))
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    writeBatch(root, "c1", "b.json", Seq(3))
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    assert(GraftLog.records(tdir).map(_.snapshotId) == Seq(1L, 2L))
    assert(LakeOps.readSnapshot(spark, tdir, 1L).count() == 2)
    assert(LakeOps.readSnapshot(spark, tdir, 2L).count() == 3)
    // partition columns survive the explicit-file read
    assert(LakeOps.readSnapshot(spark, tdir, 2L).columns.contains("user_id_bucket"))
  }

  test("concurrent committers never lose a commit (atomic create-new + id retry)") {
    val tdir = Files.createTempDirectory("graft_cc_").toString
    val writers = 8
    val perWriter = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.CountDownLatch(writers)
    (0 until writers).foreach { w =>
      pool.execute { () =>
        try (0 until perWriter).foreach { i =>
          GraftLog.commit(tdir, "append", 1L, Seq(s"f_${w}_$i.parquet"), Seq.empty)
        } catch { case t: Throwable => errs.add(t) }
        finally done.countDown()
      }
    }
    done.await()
    pool.shutdown()
    assert(errs.isEmpty, s"commit threw: ${errs.asScala.toList}")
    val recs = GraftLog.records(tdir)
    // every commit survived under a unique sequential id
    assert(recs.size == writers * perWriter)
    assert(recs.map(_.snapshotId).sorted == (1L to (writers * perWriter)).toSeq)
    assert(recs.flatMap(_.files).toSet.size == writers * perWriter)
    // no stray temp files left behind
    val leftovers = Files.list(GraftLog.logDir(tdir)).iterator().asScala
      .filterNot(_.getFileName.toString.endsWith(".json")).toSeq
    assert(leftovers.isEmpty)
  }

  test("barrier-start committers all pick the same id and still serialize losslessly (r5)") {
    // Sharper collision forcing than the loop test above: every writer
    // reads the (empty) log BEFORE any link is published, so all 16
    // choose snapshot id 1 and 15 of them MUST take the
    // FileAlreadyExists retry path.
    val tdir = Files.createTempDirectory("graft_barrier_").toString
    val writers = 16
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.CountDownLatch(writers)
    (0 until writers).foreach { w =>
      pool.execute { () =>
        try {
          barrier.await()
          GraftLog.commit(tdir, "append", 1L, Seq(s"w$w.parquet"), Seq.empty)
        } catch { case t: Throwable => errs.add(t) }
        finally done.countDown()
      }
    }
    done.await()
    pool.shutdown()
    assert(errs.isEmpty, s"commit threw: ${errs.asScala.toList}")
    val recs = GraftLog.records(tdir)
    assert(recs.map(_.snapshotId).sorted == (1L to writers).toSeq)
    assert(recs.flatMap(_.files).toSet == (0 until writers).map(w => s"w$w.parquet").toSet)
  }

  test("two-SESSION append/compact race: linearizable ledger, no lost rows, no dangling files, quarantine live (r6)") {
    // The property the id-CAS alone can NOT give: a compact planning
    // from snapshot B while an append commits B+1 must not publish a
    // rewrite that silently drops the appended file from the fold.
    // commitReplacing carries concurrent appends into the rewrite
    // (Iceberg RewriteFiles semantics) — this test races REAL parquet
    // writes from two SparkSessions and asserts no row is ever lost.
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_race2_").toString
    val sA = spark
    val sB = spark.newSession()
    val writer = new HiveParquetWriter
    def batch(s: org.apache.spark.sql.SparkSession, w: Int, i: Int) = {
      val sess = s
      import sess.implicits._
      Seq((w, i, s"w${w}_$i")).toDF("k", "seq", "v")
        .withColumn("p", (col("k") % 2).cast("string"))
    }
    writer.append(batch(sA, 9, 0), Seq("p"), tdir) // seed so compact #1 has content
    val appends = 10
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appendsDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    var compactions = 0
    val tA = new Thread(() => {
      try (1 to appends).foreach { i =>
        writer.append(batch(sA, 0, i), Seq("p"), tdir)
      } catch { case t: Throwable => errs.add(t) }
      finally appendsDone.set(true)
    })
    val tB = new Thread(() => {
      try while (!appendsDone.get()) {
        try { LakeOps.compact(sB, tdir); compactions += 1 }
        catch { case _: java.util.ConcurrentModificationException => () } // stale plan: re-run next loop
      } catch { case t: Throwable => errs.add(t) }
    })
    tA.start(); tB.start()
    // a foreign torn write lands mid-race: must be quarantined, not
    // poison either racing writer
    Thread.sleep(50)
    val tornId = GraftLog.nextSnapshotId(tdir) + 3
    Files.writeString(GraftLog.logDir(tdir).resolve(f"$tornId%020d.json"), """{"snapsho""")
    tA.join(120000); tB.join(120000)
    assert(errs.isEmpty, s"racing writer threw: ${errs.asScala.toList}")
    assert(compactions > 0, "compactor never won a commit — race did not exercise the path")
    val recs = GraftLog.records(tdir)
    // linearizable ledger: contiguous ids, every append present exactly once
    assert(recs.map(_.snapshotId).sorted == (1L to recs.size).toSeq)
    assert(recs.count(_.op == "append") == appends + 1)
    // no lost rows: every appended (w, seq) pair survives every rewrite
    val finalRows = LakeOps.readTable(sA, tdir)
      .select("k", "seq").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val want = ((9, 0) +: (1 to appends).map((0, _))).toSet
    assert(finalRows == want, s"lost/duplicated rows: ${want.diff(finalRows)} missing")
    // no dangling file: every live file of every snapshot exists on disk
    recs.map(_.snapshotId).foreach { id =>
      GraftLog.liveFiles(tdir, Some(id)).foreach(f =>
        assert(Files.exists(Paths.get(tdir, f)), s"dangling $f at snapshot $id"))
    }
    // the torn write was quarantined, its id slot reused by a real commit
    val names = Files.list(GraftLog.logDir(tdir)).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.exists(_.endsWith(".corrupt")), "torn write not quarantined")
  }

  test("upsert/delete/rollback abort with ConcurrentModificationException on a stale base (r6)") {
    // content-dependent rewrites must NOT carry concurrent appends (an
    // appended row could match the merge key / delete predicate the op
    // already decided about) — they abort for re-run instead
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_cme_").toString
    val writer = new HiveParquetWriter
    def df(i: Int) = {
      val sess = spark
      import sess.implicits._
      Seq((i, s"v$i")).toDF("k", "v").withColumn("p", lit("0"))
    }
    writer.append(df(1), Seq("p"), tdir)
    // simulate the race deterministically: plan from the current base,
    // then land an append before the replacing commit publishes
    val baseId = GraftLog.records(tdir).map(_.snapshotId).max
    writer.append(df(2), Seq("p"), tdir)
    intercept[java.util.ConcurrentModificationException] {
      GraftLog.commitReplacing(tdir, "overwrite", 1L, Seq("p=0/x.parquet"),
        Seq.empty, baseId, carryAppends = false)
    }
    // the same stale base WITH carryAppends (compact's mode) succeeds
    // and keeps the concurrent append's files live
    val rec = GraftLog.commitReplacing(tdir, "rewrite", 1L, Seq("p=0/x.parquet"),
      Seq.empty, baseId, carryAppends = true)
    val live = GraftLog.liveFiles(tdir, Some(rec.snapshotId))
    assert(live.contains("p=0/x.parquet"))
    assert(GraftLog.records(tdir).filter(_.snapshotId == 2L)
      .flatMap(_.files).forall(live.contains), "concurrent append dropped from fold")
  }

  test("randomized append/rewrite/torn-write sequences fold to the model (seeded, r5)") {
    // Property test of the whole log protocol: a seeded random mix of
    // appends, compacting rewrites, and foreign torn writes (including
    // REPEATED torn writes on the SAME id — the case that found the
    // fixed-name quarantine collision: with a constant `.corrupt`
    // suffix the second quarantine rename fails forever, the id stays
    // occupied-but-invisible, and commit() dies after 1000 retries).
    // Invariants per sequence: ids stay contiguous 1..n, liveFiles
    // equals a plain fold model, sources ledger is exact.
    val rnd = new scala.util.Random(20260812L)
    (0 until 10).foreach { iter =>
      val tdir = Files.createTempDirectory(s"graft_prop_$iter").toString
      var live = Vector.empty[String]
      var sources = Set.empty[String]
      var committed = 0
      var nf = 0
      (0 until 30).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 | 1 | 2 =>
            val fs = (0 to rnd.nextInt(2)).map { _ => nf += 1; s"f$nf.parquet" }
            val srcs = if (rnd.nextBoolean()) Seq(s"s$nf") else Seq.empty
            GraftLog.commit(tdir, "append", fs.size.toLong, fs, srcs)
            live = live ++ fs.sorted
            sources ++= srcs
            committed += 1
          case 3 =>
            nf += 1
            val packed = s"packed$nf.parquet"
            GraftLog.commit(tdir, "rewrite", live.size.toLong, Seq(packed), Seq.empty)
            live = Vector(packed)
            committed += 1
          case 4 =>
            // foreign torn write at the CURRENT next id (often the same
            // id twice in a row when this branch repeats)
            Files.createDirectories(GraftLog.logDir(tdir))
            val id = GraftLog.nextSnapshotId(tdir)
            Files.writeString(GraftLog.logDir(tdir).resolve(f"$id%020d.json"),
              s"""{"snapshotId":$id,"op":"append","rows":3,"files":["torn""")
        }
      }
      val recs = GraftLog.records(tdir)
      assert(recs.map(_.snapshotId).sorted == (1L to committed).toSeq,
        s"iter $iter: ids ${recs.map(_.snapshotId).sorted}")
      assert(GraftLog.liveFiles(tdir).sorted == live.sorted, s"iter $iter live")
      assert(GraftLog.committedSources(tdir) == sources, s"iter $iter sources")
    }
  }

  test("a truncated log record is quarantined, not poisoning reads or commits") {
    val tdir = Files.createTempDirectory("graft_tr_").toString
    GraftLog.commit(tdir, "append", 2L, Seq("a.parquet"), Seq("s1"))
    // a foreign writer crashed mid-write: truncated JSON under a log name
    Files.writeString(GraftLog.logDir(tdir).resolve(f"${2L}%020d.json"),
      """{"snapshotId":2,"op":"append","rows":7,"files":["b.parq""")
    // reads skip it and keep the valid chain
    assert(GraftLog.records(tdir).map(_.snapshotId) == Seq(1L))
    assert(GraftLog.liveFiles(tdir, None) == Seq("a.parquet"))
    assert(GraftLog.committedSources(tdir) == Set("s1"))
    // it was moved aside for forensics, and the id is free again
    val names = Files.list(GraftLog.logDir(tdir)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(names.exists(_.endsWith(".corrupt")))
    val rec = GraftLog.commit(tdir, "append", 3L, Seq("c.parquet"), Seq.empty)
    assert(rec.snapshotId == 2L)
    assert(GraftLog.liveFiles(tdir, None).sorted == Seq("a.parquet", "c.parquet"))
  }

  test("batch ingest and streaming micro-batches interleave on one table without losing commits") {
    val root = Files.createTempDirectory("graft_mix_").toString
    val tdir = s"$root/w/t"
    val table = IngestQueries.fixtureTable
    // batch append
    writeBatch(root, "c1", "a.json", Seq(1, 2))
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir, deleteSources = false)
    // streaming micro-batch lands between two batch appends
    writeBatch(root, "c2", "s.json", Seq(11, 12, 13))
    val sbatch = Pipeline.decode(spark, table, Pipeline.listPending(root, "c2"))
    graft.streaming.StreamingIngest.appendBatch(
      new graft.sink.HiveParquetWriter, sbatch, table, tdir, s"$root/ckpt", batchId = 0L)
    // second batch append
    writeBatch(root, "c1", "b.json", Seq(3))
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir, deleteSources = false)
    val recs = GraftLog.records(tdir)
    assert(recs.map(_.snapshotId) == Seq(1L, 2L, 3L))
    assert(recs.map(_.op).forall(_ == "append"))
    assert(recs(1).sources == Seq(s"stream:$root/ckpt:0"))
    assert(LakeOps.readTable(spark, tdir).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 11L, 12L, 13L))
  }

  test("compact bin-packs to one file per partition; old snapshot still readable; expiry GCs") {
    val root = Files.createTempDirectory("graft_cp_").toString
    val tdir = s"$root/w/t"
    // two appends → ≥2 files in overlapping partitions
    writeBatch(root, "c1", "a.json", Seq(1, 3))   // category c1
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    writeBatch(root, "c1", "b.json", Seq(5, 7))   // category c1 again
    Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    val before = LakeOps.readTable(spark, tdir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val preCompactFiles = GraftLog.liveFiles(tdir, None)

    val c = LakeOps.compact(spark, tdir)
    assert(c.snapshotId == 3L)
    val live = GraftLog.liveFiles(tdir, None)
    // one file per partition directory now
    val dirsOf = (fs: Seq[String]) => fs.groupBy(_.split("/").dropRight(1).mkString("/"))
    assert(dirsOf(live).forall(_._2.size == 1))
    assert(live.size < preCompactFiles.size || preCompactFiles.size == live.size)
    // same rows after compaction
    val after = LakeOps.readTable(spark, tdir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before)
    // snapshot isolation: snapshot 2 still reads the OLD files
    assert(LakeOps.readSnapshot(spark, tdir, 2L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == before)

    // expire all but the latest → replaced files GC'd, current read intact
    val deleted = LakeOps.expireSnapshots(tdir, keepLast = 1)
    assert(deleted.nonEmpty)
    assert(LakeOps.readTable(spark, tdir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == before)
    // the old files are really gone from disk
    val onDisk = Files.walk(Paths.get(tdir)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => Paths.get(tdir).relativize(p).toString).toSet
    assert(onDisk == live.toSet)
  }

  test("upsert: touched partitions rewritten, untouched carried byte-identical, old snapshot intact (r5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_up_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    val s1 = w.append(Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c2", 30L))
      .toDF("id", "category", "v"), Seq("category"), tdir).snapshotId
    val liveBefore = GraftLog.liveFiles(tdir, Some(s1))

    // update key 2 (partition c1), insert key 7 (new partition c3)
    val s2 = LakeOps.upsert(spark, tdir,
      Seq((2L, "c1", 25L), (7L, "c3", 70L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category")).snapshotId
    val got = LakeOps.readTable(spark, tdir)
      .select(col("id"), col("category").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "c1", 10L), (2L, "c1", 25L), (3L, "c2", 30L), (7L, "c3", 70L)))
    // the untouched c2 file carried over under its ORIGINAL path;
    // touched c1 was rewritten (its old file is no longer live)
    val liveAfter = GraftLog.liveFiles(tdir, Some(s2))
    val c2Before = liveBefore.filter(_.startsWith("category=c2/"))
    assert(c2Before.nonEmpty && c2Before.forall(liveAfter.contains))
    assert(liveBefore.filter(_.startsWith("category=c1/")).forall(f => !liveAfter.contains(f)))
    // snapshot isolation: the pre-merge snapshot still reads old values
    assert(LakeOps.readSnapshot(spark, tdir, s1)
      .select(col("id"), col("v")).as[(Long, Long)].collect().sortBy(_._1).toSeq
      == Seq((1L, 10L), (2L, 20L), (3L, 30L)))

    // a second upsert stacks (update the inserted key)
    LakeOps.upsert(spark, tdir, Seq((7L, "c3", 77L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category"))
    assert(LakeOps.readTable(spark, tdir)
      .agg(sum(col("v")).cast("long")).head().getLong(0) == 10L + 25L + 30L + 77L)

    // empty update batch = no snapshot (Q10 rule)
    val before = GraftLog.records(tdir).size
    val noop = LakeOps.upsert(spark, tdir,
      Seq.empty[(Long, String, Long)].toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category"))
    assert(noop.snapshotId == 0L && GraftLog.records(tdir).size == before)
  }

  test("schema evolution: added column reads as null for old rows; time travel keeps the old schema (r5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_se_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    val s1 = w.append(Seq((1L, "c1", 10L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    val s2 = w.append(Seq((2L, "c1", 20L, "x"), (3L, "c2", 30L, "y"))
      .toDF("id", "category", "v", "w"), Seq("category"), tdir).snapshotId
    // current read: union schema, pre-evolution rows null in the new column
    val cur = LakeOps.readTable(spark, tdir)
      .select(col("id"), col("v"), col("w")).as[(Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(cur == Seq((1L, 10L, None), (2L, 20L, Some("x")), (3L, 30L, Some("y"))))
    // time travel to the pre-evolution snapshot: the column doesn't exist
    val old = LakeOps.readSnapshot(spark, tdir, s1)
    assert(!old.columns.contains("w"))
    assert(old.select("id").as[Long].collect().toSeq == Seq(1L))
    // maintenance still works across the evolved schema
    val c = LakeOps.compact(spark, tdir)
    assert(LakeOps.readSnapshot(spark, tdir, c.snapshotId)
      .select(col("id"), col("w")).as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
      == Seq((1L, None), (2L, Some("x")), (3L, Some("y"))))
    // a rollback over the evolution restores the narrow schema too
    LakeOps.rollback(tdir, s1)
    assert(LakeOps.readTable(spark, tdir).columns.toSeq == Seq("id", "v", "category"))

    // upsert INTO a partition holding both pre- and post-evolution
    // files must see the union schema (mergeSchema on its internal
    // read), and an update batch omitting the evolved column
    // null-fills it (whole-row replacement)
    val w2 = new graft.sink.HiveParquetWriter
    val tdir2 = s"$root/w/t2"
    w2.append(Seq((1L, "c1", 10L)).toDF("id", "category", "v"), Seq("category"), tdir2)
    w2.append(Seq((2L, "c1", 20L, "x")).toDF("id", "category", "v", "w"),
      Seq("category"), tdir2)
    LakeOps.upsert(spark, tdir2, Seq((1L, "c1", 11L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category"))
    assert(LakeOps.readTable(spark, tdir2)
      .select(col("id"), col("v"), col("w")).as[(Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
      == Seq((1L, 11L, None), (2L, 20L, Some("x"))))
  }

  test("upsert matches escaped partition directories (special characters in values) (r5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_esc_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    // values Spark's write path escapes in directory names
    w.append(Seq((1L, "a/b", 10L), (2L, "x y", 20L), (3L, "plain", 30L))
      .toDF("id", "category", "v"), Seq("category"), tdir)
    LakeOps.upsert(spark, tdir, Seq((1L, "a/b", 11L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category"))
    // the stale row must be gone (prefix matched the ESCAPED dir name)
    assert(LakeOps.readTable(spark, tdir)
      .select(col("id"), col("v")).as[(Long, Long)].collect().sortBy(_._1).toSeq
      == Seq((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("delete: COW scope on escaped dirs, null predicate survives, noop, full wipe (r5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_del_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    w.append(Seq((1L, "a/b", Some(10L)), (2L, "a/b", Some(20L)),
      (3L, "x y", None: Option[Long]), (4L, "plain", Some(40L)))
      .toDF("id", "category", "v"), Seq("category"), tdir)
    val s1 = GraftLog.records(tdir).map(_.snapshotId).max
    // predicate TRUE on id 2 (escaped dir a/b) and on v>=35 (plain);
    // NULL on id 3's v — which must SURVIVE (SQL DELETE semantics)
    val d1 = LakeOps.delete(spark, tdir, col("id") === 2L || col("v") >= 35L)
    assert(d1.rows == 2)
    assert(LakeOps.readTable(spark, tdir).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // untouched partition "x y" carried byte-identical; old snapshot intact
    val sharedXy = GraftLog.liveFiles(tdir, Some(s1))
      .intersect(GraftLog.liveFiles(tdir, Some(d1.snapshotId)))
    assert(sharedXy.size == 1 && sharedXy.head.startsWith("category=x y/"))
    assert(LakeOps.readSnapshot(spark, tdir, s1).count() == 4)
    // no-match predicate → no snapshot at all (Q10 rule)
    val records = GraftLog.records(tdir).size
    val noop = LakeOps.delete(spark, tdir, col("id") === 99L)
    assert(noop.snapshotId == 0 && noop.rows == 0)
    assert(GraftLog.records(tdir).size == records)
    // full wipe: live set reaches zero files and the table reads empty
    val wipe = LakeOps.delete(spark, tdir, lit(true))
    assert(wipe.rows == 2)
    assert(GraftLog.liveFiles(tdir, None).isEmpty)
    assert(LakeOps.readTable(spark, tdir).count() == 0)
    // nothing live: compact commits no empty snapshot
    assert(LakeOps.compact(spark, tdir).snapshotId == 0L && GraftLog.records(tdir).size == records + 1)
  }

  test("rollback: restores old content as a forward commit; itself roll-back-able (r5)") {
    import spark.implicits._
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_rb_spec_").toString + "/t"
    val w = new HiveParquetWriter
    val s1 = w.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    val s2 = LakeOps.upsert(spark, tdir,
      Seq((2L, "b", 99L)).toDF("id", "category", "v"),
      keyCols = Seq("id"), partitionCols = Seq("category")).snapshotId
    assert(LakeOps.readTable(spark, tdir)
      .agg(sum(col("v"))).head().getLong(0) == 109L)
    // rollback to pre-upsert content: a NEW snapshot, not history erasure
    val rb = LakeOps.rollback(tdir, s1)
    assert(rb.snapshotId > s2)
    assert(LakeOps.readTable(spark, tdir)
      .agg(sum(col("v"))).head().getLong(0) == 30L)
    // the rolled-back-over snapshot remains time-travel-readable
    assert(LakeOps.readSnapshot(spark, tdir, s2)
      .agg(sum(col("v"))).head().getLong(0) == 109L)
    // and the rollback is itself roll-back-able (roll forward again)
    LakeOps.rollback(tdir, s2)
    assert(LakeOps.readTable(spark, tdir)
      .agg(sum(col("v"))).head().getLong(0) == 109L)
    // unknown snapshot refused
    intercept[IllegalArgumentException] { LakeOps.rollback(tdir, 999L) }
  }

  test("incremental read: exact deltas, empty-range and rewrite-range refusal (r5)") {
    import spark.implicits._
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_incr_spec_").toString + "/t"
    val w = new HiveParquetWriter
    val s1 = w.append(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    val s2 = w.append(Seq((3L, "a", 3L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    // from-the-beginning delta (from = 0, before the first snapshot)
    assert(LakeOps.readIncremental(spark, tdir, 0L, s1)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // single-snapshot delta
    assert(LakeOps.readIncremental(spark, tdir, s1, s2)
      .select("id").as[Long].collect().toSeq == Seq(3L))
    // empty range refuses (nothing to read is a caller bug, not an
    // empty frame — Iceberg raises too)
    intercept[IllegalArgumentException] {
      LakeOps.readIncremental(spark, tdir, s2, s2)
    }
    // a rewrite inside the range refuses; after it, deltas work again
    val s3 = LakeOps.compact(spark, tdir).snapshotId
    intercept[IllegalArgumentException] {
      LakeOps.readIncremental(spark, tdir, s1, s3)
    }
    val s4 = w.append(Seq((4L, "b", 4L)).toDF("id", "category", "v"),
      Seq("category"), tdir).snapshotId
    assert(LakeOps.readIncremental(spark, tdir, s3, s4)
      .select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("diffSnapshots: changelog tags all four classes; rewrites are invisible (r5)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_df_").toString
    val tdir = s"$root/w/t"
    val w = new graft.sink.HiveParquetWriter
    val s1 = w.append(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "category", "v"), Seq("category"), tdir).snapshotId

    // compaction-only range: content identical → every row unchanged
    val s2 = LakeOps.compact(spark, tdir).snapshotId
    val onlyCompact = LakeOps.diffSnapshots(spark, tdir, s1, s2, Seq("id"))
    assert(onlyCompact.where(col("change") =!= "unchanged").count() == 0L)
    assert(onlyCompact.count() == 3L)

    // update 2, insert 4, delete 3 — with another rewrite inside the range
    LakeOps.upsert(spark, tdir, Seq((2L, "a", 21L), (4L, "b", 40L))
      .toDF("id", "category", "v"), Seq("id"), Seq("category"))
    LakeOps.compact(spark, tdir)
    val s5 = LakeOps.delete(spark, tdir, col("id") === 3L).snapshotId
    val tags = LakeOps.diffSnapshots(spark, tdir, s1, s5, Seq("id"))
      .select(col("id"), col("change")).as[(Long, String)].collect().toMap
    assert(tags == Map(1L -> "unchanged", 2L -> "updated",
      3L -> "deleted", 4L -> "inserted"))

    // full-table delete → empty endpoint: the changelog degenerates to
    // all-'deleted' instead of tripping the schema-change guard
    val s6 = LakeOps.delete(spark, tdir, lit(true)).snapshotId
    val wiped = LakeOps.diffSnapshots(spark, tdir, s5, s6, Seq("id"))
    assert(wiped.where(col("change") =!= "deleted").count() == 0L)
    assert(wiped.count() == 3L) // ids 1, 2, 4 all deleted
  }

  test("readPruned == full scan + filter for every range; footer stats drive the skip (r5)") {
    import spark.implicits._
    import graft.sink.HiveParquetWriter
    val tdir = Files.createTempDirectory("graft_prune_").toString + "/t"
    val w = new HiveParquetWriter
    w.append(Seq((1L, "a", 10L), (2L, "a", 25L)).toDF("id", "category", "v"),
      Seq("category"), tdir)
    w.append(Seq((3L, "b", 40L), (4L, "b", 55L)).toDF("id", "category", "v"),
      Seq("category"), tdir)
    w.append(Seq((5L, "c", 70L), (6L, "c", 95L)).toDF("id", "category", "v"),
      Seq("category"), tdir)
    // footer stats reproduce the written ranges exactly
    val stats = LakeOps.fileStats(tdir, "v").flatMap(_._2).sortBy(_._1)
    assert(stats == Seq((10L, 25L), (40L, 55L), (70L, 95L)))
    // physical-only contract: every range, including empty and
    // boundary-exact ones, matches the logical full scan + filter
    // physical-only contract holds WITHOUT caller special cases: the
    // fully-pruned frame keeps the table schema (empty but typed), and
    // (41,48] scans a stats-intersecting file that matches zero rows
    for ((lo, hi) <- Seq((10L, 95L), (25L, 40L), (26L, 39L), (0L, 9L),
      (55L, 55L), (41L, 100L), (41L, 48L))) {
      val (pruned, scanned, live) = LakeOps.readPruned(spark, tdir, "v", lo, hi)
      assert(live == 3 && scanned <= live)
      val want = LakeOps.readTable(spark, tdir)
        .filter(col("v") >= lo && col("v") <= hi)
        .select("id").as[Long].collect().sorted.toSeq
      val got = pruned.select("id").as[Long].collect().sorted.toSeq
      assert(got == want, s"range [$lo,$hi]: pruned=$got full=$want")
    }
    // a range touching no file opens no file
    assert(LakeOps.readPruned(spark, tdir, "v", 26L, 39L)._2 == 0)
    // a boundary-exact range opens exactly its file
    assert(LakeOps.readPruned(spark, tdir, "v", 55L, 55L)._2 == 1)
    // a stats-hit zero-row-match range scans 1 file, returns 0 rows
    val zr = LakeOps.readPruned(spark, tdir, "v", 41L, 48L)
    assert(zr._2 == 1 && zr._1.count() == 0L)
    // schema-evolved live set: pruning must not lose the added column
    // to one arbitrary pre-evolution footer (mergeSchema contract)
    w.append(Seq((7L, "d", 110L, 9L, "x")).toDF("id", "category", "v", "score", "note"),
      Seq("category"), tdir)
    val (evo, _, _) = LakeOps.readPruned(spark, tdir, "v", 10L, 200L)
    assert(evo.columns.contains("score"))
    assert(evo.filter(col("score").isNull).count() == 6L) // pre-evolution rows
    // non-INT64 stats column fails fast with a clear message
    val err = intercept[IllegalArgumentException](
      LakeOps.fileStats(tdir, "note"))
    assert(err.getMessage.contains("note"))
  }

  test("hostile source names: quote, backslash, newline, tab, glob and non-ASCII stay in the ledger exactly") {
    val root = Files.createTempDirectory("graft_hostile_").toString
    val tdir = s"$root/w/t"
    // a non-ASCII file name needs a JVM whose file-name encoding can
    // represent it (a UTF-8 locale); the record codec itself is pinned
    // for non-ASCII independently of the locale by the next spec
    val nonAscii = "ünïcødé€.json"
    val names = Seq("we\"ird.json", "back\\slash.json", "new\nline.json",
      "tab\there.json", "gl*b[1]{x}?.json", "100%.json", "100%25.json", " lead.json",
      "c,d.json", "#hash.json", "e f.json") ++ Seq(nonAscii).filter(n => java.nio.charset.Charset
        .forName(System.getProperty("sun.jnu.encoding")).newEncoder().canEncode(n))
    def offer(): Unit = names.zipWithIndex.foreach { case (n, i) =>
      writeBatch(root, "c1", n, Seq(i + 1))
    }
    offer()
    val keys = Pipeline.listPending(root, "c1")
      .map(f => Paths.get(f).toAbsolutePath.normalize.toString).toSet
    assert(keys.size == names.size)
    val r = Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir)
    assert(r.commit.exists(_.rows == names.size))
    // the commit stays live: nothing quarantined, every row readable
    assert(GraftLog.records(tdir).map(_.snapshotId) == Seq(1L))
    assert(!Files.list(GraftLog.logDir(tdir)).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".corrupt")))
    assert(LakeOps.readTable(spark, tdir).count() == names.size)
    assert(GraftLog.committedSources(tdir) == keys)
    assert(Pipeline.listPending(root, "c1").isEmpty, "sources not deleted")
    // the same names offered again are fenced by the ledger
    offer()
    val again = Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir,
      deleteSources = false)
    assert(again.commit.isEmpty && again.sourceFiles.isEmpty)
    assert(GraftLog.records(tdir).size == 1)

    // a streaming fence key carries the checkpoint path verbatim
    val table = IngestQueries.fixtureTable
    writeBatch(root, "c2", "s.json", Seq(11, 12))
    val batch = Pipeline.decode(spark, table, Pipeline.listPending(root, "c2"))
    val ckpt = s"$root/ck\"pt-ü€"
    (1 to 2).foreach(_ => graft.streaming.StreamingIngest.appendBatch(
      new graft.sink.HiveParquetWriter, batch, table, tdir, ckpt, batchId = 0L))
    assert(GraftLog.records(tdir).map(_.sources) ==
      Seq(keys.toSeq.sorted, Seq(s"stream:$ckpt:0")))
    assert(LakeOps.readTable(spark, tdir).count() == names.size + 2)
  }

  test("a committed record is the json4s Record: keys in field order, sorted arrays, any string") {
    val tdir = Files.createTempDirectory("graft_fmt_").toString
    GraftLog.commit(tdir, "append", 3L, Seq("p=b/y.parquet", "p=a/x.parquet"), Seq("s2", "s1"))
    assert(Files.readString(GraftLog.logDir(tdir).resolve(f"${1L}%020d.json")) ==
      """{"snapshotId":1,"op":"append","rows":3,""" +
        """"files":["p=a/x.parquet","p=b/y.parquet"],"sources":["s1","s2"]}""")
    val hostile = Seq("q\"uote", "back\\slash", "new\nline", "tab\t", "bell\u0007",
      "ünïcødé€", "emoji\ud83d\ude00", "slash/and\\back")
    val rec = GraftLog.commit(tdir, "append", 1L, hostile.map(_ + ".parquet"), hostile)
    assert(GraftLog.records(tdir).last == rec)
    assert(rec.sources == hostile.sorted && GraftLog.records(tdir).size == 2)
    assert(GraftLog.committedSources(tdir) == Set("s1", "s2") ++ hostile)
  }

  test("expireSnapshots leaves a writer's staged files alone") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("graft_exp_stage_").toString + "/t"
    val w = new graft.sink.HiveParquetWriter
    w.append(Seq((1L, "1")).toDF("id", "p"), Seq("p"), tdir)
    w.append(Seq((2L, "1")).toDF("id", "p"), Seq("p"), tdir)
    LakeOps.compact(spark, tdir)
    // an append in flight: staged under _staging_*, not yet published
    val staged = Paths.get(tdir, "_staging_x", "p=1", "part-0.parquet")
    Files.createDirectories(staged.getParent)
    Files.writeString(staged, "staged")
    val deleted = LakeOps.expireSnapshots(tdir, keepLast = 1)
    assert(deleted.size == 2, s"replaced files not expired: $deleted")
    assert(Files.exists(staged), "expire swept a staged file")
    assert(LakeOps.readTable(spark, tdir).count() == 2L)
  }

  test("an append whose Spark job fails leaves no _staging_ dir behind") {
    val tdir = Files.createTempDirectory("graft_fail_").toString + "/t"
    val w = new graft.sink.HiveParquetWriter
    // a range, not a local Seq: the optimizer would fold raise_error
    // over a local relation before any job starts
    val bad = spark.range(4).select(col("id"), (col("id") % 2).cast("string").as("p"),
      when(col("id") === 3L, raise_error(lit("boom"))).otherwise(lit("v")).as("v"))
    // unpartitioned, the task fails inside the write job; partitioned,
    // in the shuffle that feeds it
    intercept[Exception](w.append(bad, Seq.empty, tdir))
    intercept[Exception](w.append(bad, Seq("p"), tdir))
    // empty inputs succeed, count 0 rows and publish nothing (Q10)
    for ((in, parts) <- emptyInputs) assert(w.append(in, parts, tdir).snapshotId == 0L)
    val left = Files.list(Paths.get(tdir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_staging_")).toSeq
    assert(left.isEmpty, s"staging left behind: $left")
    assert(GraftLog.records(tdir).isEmpty)
  }

  /** Writes of no rows: an empty local Seq (partitioned and not) and a
    * range filtered to nothing.
    */
  private def emptyInputs: Seq[(org.apache.spark.sql.DataFrame, Seq[String])] = {
    import spark.implicits._
    val none = Seq.empty[(Long, String)].toDF("id", "p")
    Seq(none -> Seq("p"), none -> Seq.empty,
      spark.range(10).filter(col("id") < 0).select(col("id"), lit("1").as("p")) -> Seq("p"))
  }

  test("readTable on a table with no commits is the 0-column empty frame") {
    val root = Files.createTempDirectory("graft_nocommit_").toString
    val tdir = s"$root/w/t"
    // a batch whose every line is malformed commits nothing
    Files.createDirectories(Paths.get(root, "events", "c1"))
    Files.writeString(Paths.get(root, "events", "c1", "bad.json"), "{not json\n")
    assert(Pipeline.ingest(spark, root, "c1", IngestQueries.fixtureTable, tdir).commit.isEmpty)
    // and so does an append of no rows
    val w = new graft.sink.HiveParquetWriter
    for ((in, parts) <- emptyInputs) assert(w.append(in, parts, tdir).rows == 0L)
    assert(GraftLog.records(tdir).isEmpty)
    val df = LakeOps.readTable(spark, tdir)
    assert(df.columns.isEmpty && df.count() == 0L)
  }

  test("log reads and source listings close their directory handles") {
    val fdDir = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fdDir), "no /proc/self/fd on this platform")
    def openFds(): Int = {
      val s = Files.list(fdDir)
      try s.count().toInt finally s.close()
    }
    val root = Files.createTempDirectory("graft_fds_").toString
    val tdir = s"$root/w/t"
    writeBatch(root, "c1", "a.json", Seq(1, 2))
    GraftLog.commit(tdir, "append", 1L, Seq("p=a/x.parquet"), Seq("s1"))
    val before = openFds()
    (1 to 200).foreach { _ =>
      assert(GraftLog.records(tdir).size == 1)
      assert(Pipeline.listPending(root, "c1").size == 1)
    }
    val after = openFds()
    // slack for descriptors other threads of this JVM open meanwhile;
    // each unclosed listing held two (800 over these 400 calls)
    assert(after - before < 50, s"open descriptors grew from $before to $after")
  }

  test("a fresh table's read runs no Spark job before its action; the write counts its rows") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("graft_fresh_").toString + "/t"
    val w = new graft.sink.HiveParquetWriter
    val rows = (1 to 40).map(i => (i.toLong, s"c${i % 4}", i * 10L))
    val c1 = w.append(rows.take(25).toDF("id", "category", "v"), Seq("category"), tdir)
    val c2 = w.append(rows.drop(25).toDF("id", "category", "v"), Seq("category"), tdir)
    assert(c1.rows == 25L && c2.rows == 15L)
    assert(GraftLog.liveFiles(tdir).size <= 32) // below Spark's parallel-listing threshold
    val ((cur, old), jobs, _) = sparkWork(
      (LakeOps.readTable(spark, tdir), LakeOps.readSnapshot(spark, tdir, c1.snapshotId)))
    assert(jobs == 0, "a read planned with a Spark job before its action")
    assert(cur.count() == 40L && old.count() == 25L)
    assert(cur.columns.toSeq == Seq("id", "v", "category"))
  }

  test("100 known files: neither a decode nor a read on any layout runs a Spark job before its action") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_known_").toString
    (1 to 100).foreach(i => writeBatch(root, "c1", f"f$i%03d.json", Seq(i)))
    val pending = Pipeline.listPending(root, "c1")
    val (decoded, decodeJobs, _) = sparkWork(Pipeline.decode(spark, IngestQueries.fixtureTable, pending))
    assert(decodeJobs == 0, "the decode planned with a Spark job")
    assert(decoded.count() == 100L && decoded.inputFiles.length == 100)
    // a source gone before the decode fails it here, before any job
    Files.delete(Paths.get(pending.head))
    val (gone, goneJobs, _) = sparkWork(intercept[java.io.FileNotFoundException](
      Pipeline.decode(spark, IngestQueries.fixtureTable, pending)))
    assert(goneJobs == 0 && gone.getMessage.contains("f001.json"))
    // one append of 100 files per layout: 100 directories, or 100 input
    // partitions without one
    for (layout <- Seq(Seq.empty[String], Seq("category"), Seq("p", "k:1"))) {
      val tdir = Files.createTempDirectory("graft_known_t_").toString + "/t"
      val rows = (0 until 100).map(i => Row.fromSeq(Seq(i.toLong) ++
        (if (layout.size == 1) Seq(s"c$i") else layout.indices.map(j => s"${if (j == 0) i / 10 else i % 10}"))))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 100),
        StructType(StructField("id", LongType) +: layout.map(StructField(_, StringType))))
      (new graft.sink.HiveParquetWriter).append(df, layout, tdir)
      assert(GraftLog.liveFiles(tdir).size == 100, layout)
      val (read, jobs, _) = sparkWork(LakeOps.readTable(spark, tdir))
      assert(jobs == 0, s"a read on (${layout.mkString(", ")}) planned with a Spark job")
      assert(read.count() == 100L && read.inputFiles.length == 100 &&
        read.columns.toSeq == "id" +: layout, layout)
    }
  }

  test("a partitioned write runs one task per shuffle partition, one file per directory") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("graft_tasks_").toString + "/t"
    val df = (0 until 64).map(i => (i.toLong, s"d${i % 16}")).toDF("id", "p")
    val (c, _, stageTasks) = sparkWork((new graft.sink.HiveParquetWriter).append(df, Seq("p"), tdir))
    // the write stage runs last; AQE would coalesce a small shuffle to 1
    assert(stageTasks.last == spark.conf.get("spark.sql.shuffle.partitions").toInt &&
      stageTasks.last == 4, stageTasks)
    assert(c.rows == 64L && c.files.size == 16 && c.files.map(GraftLog.partitionDir).distinct.size == 16)
  }

  test("partition-scoped delete and upsert keep the live row count; rollback reports it") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("graft_rows_").toString + "/t"
    val w = new graft.sink.HiveParquetWriter
    w.append(Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("id", "p"), Seq("p"), tdir)
    val d = LakeOps.delete(spark, tdir, col("id") === 1L)
    assert(d.rows == 1L)
    assert(GraftLog.fold(GraftLog.records(tdir)).rows == 3L)
    LakeOps.compact(spark, tdir)
    assert(LakeOps.rollback(tdir, d.snapshotId).rows == 3L)
    assert(GraftLog.fold(GraftLog.records(tdir)).rows == 3L)
    // an upsert that inserts a new key adds it; one that replaces a key does not
    LakeOps.upsert(spark, tdir, Seq((5L, "b")).toDF("id", "p"), Seq("id"), Seq("p"))
    assert(GraftLog.fold(GraftLog.records(tdir)).rows == 4L)
    LakeOps.upsert(spark, tdir, Seq((2L, "a")).toDF("id", "p"), Seq("id"), Seq("p"))
    assert(GraftLog.fold(GraftLog.records(tdir)).rows == 4L)
    assert(LakeOps.readTable(spark, tdir).count() == 4L)
  }

  test("a log of schema-less records reads with the union schema; an append on top keeps it") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_legacy_")
    val tdir = root.resolve("t").toString
    // the older log format: parquet files committed by records that
    // carry no schema, the second file with an added column
    def place(df: org.apache.spark.sql.DataFrame, rel: String): String = {
      val tmp = root.resolve(s"tmp_${rel.hashCode.abs}").toString
      df.coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(tdir, rel).getParent)
      Files.move(part, Paths.get(tdir, rel))
      rel
    }
    val s1 = GraftLog.commit(tdir, "append", 1L,
      Seq(place(Seq((1L, 10L)).toDF("id", "v"), "category=a/f1.parquet")), Seq.empty)
    GraftLog.commit(tdir, "append", 1L,
      Seq(place(Seq((2L, 20L, "x")).toDF("id", "v", "w"), "category=b/f2.parquet")), Seq.empty)
    assert(GraftLog.records(tdir).forall(_.schema.isEmpty))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Option[String], String)] =
      df.select(col("id"), col("v"), col("w"), col("category"))
        .as[(Long, Long, Option[String], String)].collect().sortBy(_._1).toSeq
    assert(rowsOf(LakeOps.readTable(spark, tdir)) == Seq((1L, 10L, None, "a"), (2L, 20L, Some("x"), "b")))
    assert(LakeOps.readSnapshot(spark, tdir, s1.snapshotId).columns.toSeq == Seq("id", "v", "category"))
    // an append on a legacy base stays schema-less and reads correctly
    val c = (new graft.sink.HiveParquetWriter)
      .append(Seq((3L, "a", 30L)).toDF("id", "category", "v"), Seq("category"), tdir)
    assert(c.rows == 1L && GraftLog.records(tdir).last.schema.isEmpty)
    assert(rowsOf(LakeOps.readTable(spark, tdir)) ==
      Seq((1L, 10L, None, "a"), (2L, 20L, Some("x"), "b"), (3L, 30L, None, "a")))
  }

  test("partition values read as their directory strings: the log types them, compact keeps them, upsert finds them") {
    import spark.implicits._
    import org.apache.spark.sql.types.StringType
    val tdir = Files.createTempDirectory("graft_pv_").toString + "/t"
    val w = new graft.sink.HiveParquetWriter
    def zips(df: org.apache.spark.sql.DataFrame): Set[String] = df.select("zip").as[String].collect().toSet
    w.append(Seq((1L, "007", 10L), (2L, "010", 20L)).toDF("id", "zip", "v"), Seq("zip"), tdir)
    val t1 = LakeOps.readTable(spark, tdir)
    assert(t1.schema("zip").dataType == StringType && zips(t1) == Set("007", "010"))
    // null and "" render as the reference's `zip=null` directory, and
    // the column's type does not depend on which directories are live
    w.append(Seq((3L, None, 30L), (4L, Some(""), 40L)).toDF("id", "zip", "v"), Seq("zip"), tdir)
    assert(GraftLog.liveFiles(tdir).map(_.takeWhile(_ != '/')).toSet ==
      Set("zip=007", "zip=010", "zip=null"))
    assert(!Files.walk(Paths.get(tdir)).iterator().asScala
      .exists(_.toString.contains("__HIVE_DEFAULT_PARTITION__")))
    val t2 = LakeOps.readTable(spark, tdir)
    assert(t2.schema("zip").dataType == StringType && zips(t2) == Set("007", "010", "null"))
    assert(LakeOps.readSnapshot(spark, tdir, 1L).schema("zip").dataType == StringType)
    // compact rewrites into the same directories
    val c = LakeOps.compact(spark, tdir)
    assert(c.files.map(_.takeWhile(_ != '/')).toSet == Set("zip=007", "zip=010", "zip=null"))
    // so an upsert after it finds the key's file and replaces its row
    LakeOps.upsert(spark, tdir, Seq((1L, "007", 11L)).toDF("id", "zip", "v"), Seq("id"), Seq("zip"))
    assert(LakeOps.readTable(spark, tdir).filter(col("id") === 1L)
      .select("zip", "v").as[(String, Long)].collect().toSeq == Seq(("007", 11L)))
    // a table after a full-table DELETE keeps its columns
    LakeOps.delete(spark, tdir, lit(true))
    val wiped = LakeOps.readTable(spark, tdir)
    assert(wiped.columns.toSeq == Seq("id", "v", "zip") && wiped.count() == 0L)
  }

  /** Commits Spark-written parquet files under partition paths of
    * `tdir` with `schema` (None: the schema-less format). */
  private def commitPlaced(tdir: String, schema: Option[org.apache.spark.sql.types.StructType],
      files: (org.apache.spark.sql.DataFrame, String)*): Unit = {
    val tmp = Files.createTempDirectory("graft_place_")
    files.zipWithIndex.foreach { case ((df, rel), i) =>
      df.coalesce(1).write.parquet(tmp.resolve(s"$i").toString)
      val part = Files.list(tmp.resolve(s"$i")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(tdir, rel).getParent)
      Files.move(part, Paths.get(tdir, rel))
      GraftLog.commit(tdir, "append", df.count(), Seq(rel), Seq.empty, schema)
    }
  }

  test("the older log formats read partition columns as strings") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_oldfmt_").toString
    val a = Seq((1L, 10L)).toDF("id", "v") -> "zip=007/a.parquet"
    val b = Seq((2L, 20L)).toDF("id", "v") -> "zip=010/b.parquet"
    val dataOnly = StructType(Seq(StructField("id", LongType, false), StructField("v", LongType, false)))
    def dirs(tdir: String): Set[String] = GraftLog.liveFiles(tdir).map(_.takeWhile(_ != '/')).toSet
    def rows(tdir: String): Seq[(Long, Long, String)] = LakeOps.readTable(spark, tdir)
      .select("id", "v", "zip").as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    for ((name, schema) <- Seq("data_only" -> Some(dataOnly), "schema_less" -> None)) {
      val tdir = s"$root/$name"
      commitPlaced(tdir, schema, a, b)
      assert(GraftLog.records(tdir).map(_.schema) == Seq.fill(2)(schema.map(_.json)))
      for (df <- Seq(LakeOps.readTable(spark, tdir), LakeOps.readSnapshot(spark, tdir, 2L))) {
        assert(df.schema.map(f => f.name -> f.dataType) ==
          Seq("id" -> LongType, "v" -> LongType, "zip" -> StringType), name)
        assert(df.as[(Long, Long, String)].collect().sortBy(_._1).toSeq ==
          Seq((1L, 10L, "007"), (2L, 20L, "010")), name)
      }
      // an upsert carrying a value that is not an int still merges
      LakeOps.upsert(spark, tdir, Seq((1L, "007", 11L), (3L, "abc", 30L)).toDF("id", "zip", "v"),
        Seq("id"), Seq("zip"))
      assert(rows(tdir) == Seq((1L, 11L, "007"), (2L, 20L, "010"), (3L, 30L, "abc")), name)
      // a rewrite of the older format keeps each row in its directory
      val c = s"$root/${name}_compact"
      commitPlaced(c, schema, a, b)
      LakeOps.compact(spark, c)
      assert(dirs(c) == Set("zip=007", "zip=010"), name)
      assert(rows(c) == Seq((1L, 10L, "007"), (2L, 20L, "010")), name)
      val d = s"$root/${name}_delete"
      commitPlaced(d, schema, Seq((1L, 10L), (4L, 40L)).toDF("id", "v") -> "zip=007/a.parquet", b)
      assert(LakeOps.delete(spark, d, col("id") === 4L).rows == 1L, name)
      assert(dirs(d) == Set("zip=007", "zip=010"), name)
      assert(rows(d) == Seq((1L, 10L, "007"), (2L, 20L, "010")), name)
    }
  }

  test("an append on a data-only log adds the partition columns, so old tables converge") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tdir = Files.createTempDirectory("graft_converge_").toString + "/t"
    commitPlaced(tdir, Some(StructType(Seq(StructField("id", LongType), StructField("v", LongType)))),
      Seq((1L, 10L)).toDF("id", "v") -> "zip=007/a.parquet")
    (new graft.sink.HiveParquetWriter)
      .append(Seq((2L, "010", 20L)).toDF("id", "zip", "v"), Seq("zip"), tdir)
    val df = LakeOps.readTable(spark, tdir)
    assert(df.schema("zip").dataType == StringType)
    assert(df.select("id", "zip").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "007"), (2L, "010")))
  }

  test("compact, delete and upsert keep the table's layout: none, one column, and a hostile name") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    import org.apache.spark.sql.types._
    // a row's partition values: a group of its id, then a value with a
    // character Spark escapes in directory names
    def parts(layout: Seq[String], id: Long): Seq[String] =
      layout.indices.map(j => if (j == 0) s"g${id % 3}" else s"v:${id % 2}")
    def frame(layout: Seq[String], rows: Seq[(Long, Long)]) = spark.createDataFrame(
      rows.map { case (id, v) => Row.fromSeq(Seq(id, v) ++ parts(layout, id)) }.asJava,
      StructType(Seq(StructField("id", LongType), StructField("v", LongType)) ++
        layout.map(StructField(_, StringType))))
    def table(tdir: String, layout: Seq[String]): Seq[(Long, Long, Seq[String])] =
      LakeOps.readTable(spark, tdir).select((Seq("id", "v") ++ layout).map(col): _*).collect()
        .map(r => (r.getLong(0), r.getLong(1), layout.indices.map(i => r.getString(i + 2))))
        .sortBy(_._1).toSeq
    // a file's directory levels, unescaped: (names, values)
    def levels(file: String): (Seq[String], Seq[String]) =
      file.split('/').dropRight(1).toSeq.map(l =>
        (unescapePathName(l.takeWhile(_ != '=')), unescapePathName(l.dropWhile(_ != '=').drop(1)))).unzip
    val start = (1L to 6L).map(i => (i, i * 10))
    // (operation, run it, the rows after it, the ids whose directories
    // it rewrites — None: all — and the rows it reports)
    val ops: Seq[(String, (String, Seq[String]) => graft.sink.CommitInfo, Seq[(Long, Long)],
        Option[Seq[Long]], (Seq[String], Seq[(Long, Long)]) => Long)] = Seq(
      ("compact", (t, _) => LakeOps.compact(spark, t), start, None, (_, after) => after.size.toLong),
      ("delete", (t, _) => LakeOps.delete(spark, t, col("id") === 1L), start.filterNot(_._1 == 1L),
        Some(Seq(1L)), (_, _) => 1L),
      ("upsert", (t, l) => LakeOps.upsert(spark, t, frame(l, Seq((1L, 100L), (7L, 70L))), Seq("id"), l),
        start.filterNot(_._1 == 1L) ++ Seq((1L, 100L), (7L, 70L)), Some(Seq(1L, 7L)),
        (l, after) => after.count(r => Set(parts(l, 1L), parts(l, 7L))(parts(l, r._1))).toLong))
    for (layout <- Seq(Seq.empty[String], Seq("category"), Seq("p", "k:1"));
         (name, run, after, touchedIds, reported) <- ops) {
      val cell = s"$name on (${layout.mkString(", ")})"
      val tdir = Files.createTempDirectory("graft_layout_").toString + "/t"
      val w = new graft.sink.HiveParquetWriter
      w.append(frame(layout, start.take(4)), layout, tdir)
      w.append(frame(layout, start.drop(4)), layout, tdir)
      val liveBefore = GraftLog.liveFiles(tdir)
      val touched = touchedIds.map(_.map(parts(layout, _)).toSet)
      val carried = liveBefore.filterNot(f => touched.forall(_(levels(f)._2)))
        .map(f => f -> Files.readAllBytes(Paths.get(tdir, f)).toSeq)
      val snapshots = GraftLog.records(tdir).size
      val c = run(tdir, layout)
      // one snapshot with what the operation reports, never an empty one
      assert(c.snapshotId > 0 && GraftLog.records(tdir).size == snapshots + 1, cell)
      assert(c.rows == reported(layout, after) && c.rows > 0, cell)
      val got = table(tdir, layout)
      assert(got == after.map { case (id, v) => (id, v, parts(layout, id)) }.sortBy(_._1), cell)
      assert(got.map(_._1).distinct.size == got.size, s"$cell: duplicate key")
      assert(GraftLog.fold(GraftLog.records(tdir)).rows == after.size, s"$cell: logged rows")
      // every live file lies under the table's layout, in its row's directory
      val liveAfter = GraftLog.liveFiles(tdir)
      assert(liveAfter.forall(f => levels(f)._1 == layout), s"$cell: $liveAfter")
      // untouched directories carry their files byte-identical
      carried.foreach { case (f, bytes) =>
        assert(liveAfter.contains(f) && Files.readAllBytes(Paths.get(tdir, f)).toSeq == bytes, s"$cell: $f")
      }
      assert(liveBefore.filterNot(carried.map(_._1).contains).forall(!liveAfter.contains(_)), cell)
      // an operation that touches nothing commits nothing
      assert(LakeOps.delete(spark, tdir, col("id") === 99L).snapshotId == 0L, cell)
      assert(LakeOps.upsert(spark, tdir, frame(layout, Nil), Seq("id"), layout).snapshotId == 0L, cell)
      assert(GraftLog.records(tdir).size == snapshots + 1, cell)
      if (name == "upsert" && layout.size > 1) {
        // an upsert under another order of the table's columns is refused
        // before it writes, and the table still reads
        intercept[IllegalArgumentException](LakeOps.upsert(spark, tdir,
          frame(layout, Seq((2L, 21L))), Seq("id"), layout.reverse))
        assert(GraftLog.records(tdir).size == snapshots + 1 && GraftLog.liveFiles(tdir) == liveAfter, cell)
        assert(table(tdir, layout) == got, cell)
      }
    }
  }

  test("expireSnapshots refuses to keep no snapshot") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("graft_exp_none_").toString + "/t"
    (new graft.sink.HiveParquetWriter).append(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), Seq("p"), tdir)
    val live = GraftLog.liveFiles(tdir)
    for (keep <- Seq(0, -1)) intercept[IllegalArgumentException](LakeOps.expireSnapshots(tdir, keep))
    assert(live.forall(f => Files.exists(Paths.get(tdir, f))))
    assert(LakeOps.readTable(spark, tdir).count() == 2L)
  }
}
