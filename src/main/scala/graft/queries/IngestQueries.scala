package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Pipeline, PartitionFieldSpec, TableDef}
import graft.types._

/** `ingest_e2e` — the full reference pipeline (SURVEY.md §2 Part B last
  * row, A1-A25) as a driver-runnable query: authored JSON-lines
  * fixtures (FIXTURES.md §B) → prefix-filtered listing → schema'd
  * decode with Q7/Q8 semantics → partition transforms (Q2/Q3/Q4) →
  * Hive-layout parquet append + commit log → read-back. Returns the
  * read-back rows (with partition-path values) totally ordered.
  *
  * Oracle: a golden VALUES table — the fixture input is a compile-time
  * constant, so the expected output is a fixed, hand-auditable row set
  * (event_time 37425000000000 = (10·3600+23·60+45)·10⁹; bucket 10 =
  * (Long.hashCode(42) & MaxValue) % 16; `null` partition strings are
  * the reference's `String.valueOf(null)` path rendering — each is
  * independently asserted from first principles in IngestSpec /
  * RoundTripSpec). DuckDB cannot run the pipeline itself, so the oracle
  * pins the full 17-column × 4-row result exactly (schema + hash)
  * instead of the prior rows-only check.
  */
object IngestQueries {

  /** FIXTURES.md §B target table: 13-type schema, 5-field partition
    * spec over day/month/year/hour/bucket[16]/identity.
    */
  val fixtureTable: TableDef = TableDef(
    "events_ingest",
    GStruct(Seq(
      GField("id", GLong, required = true),
      GField("event_date", GDate),
      GField("event_time", GTime),
      GField("user_id", GLong),
      GField("category", GString),
      GField("amount", GDecimal(10, 2)),
      GField("score", GDouble),
      GField("ratio", GFloat),
      GField("count", GInt),
      GField("flag", GBoolean),
      GField("payload", GStruct(Seq(
        GField("a", GInt), GField("b", GString),
        GField("c", GList(GDouble)), GField("d", GMap(GInt))))),
      GField("tags", GList(GString)),
      GField("attrs", GMap(GString)))),
    Seq(
      PartitionFieldSpec("event_date", "day"),
      PartitionFieldSpec("user_id", "bucket[16]"),
      PartitionFieldSpec("category", "identity")))

  /** The seven fixture behaviors of FIXTURES.md §B. */
  val fixtureLines: Seq[String] = Seq(
    // 1. fully populated, all 13 types
    """{"id":1,"event_date":"2024-03-15","event_time":"10:23:45","user_id":42,"category":"web","amount":123.45,"score":0.9,"ratio":0.5,"count":7,"flag":true,"payload":{"a":1,"b":"x","c":[1.5,2.5],"d":{"k":3}},"tags":["t1","t2"],"attrs":{"k1":"v1"}}""",
    // 2. missing category + event_date → null column AND null partition (Q8)
    """{"id":2,"event_time":"23:59:59","user_id":7,"amount":0.01,"score":1.0,"ratio":1.5,"count":1,"flag":false,"payload":{"a":2,"b":"y","c":[],"d":{}},"tags":[],"attrs":{}}""",
    // 3. extra unknown keys silently dropped (A5 projection)
    """{"id":3,"event_date":"2023-12-31","user_id":-5,"category":"api","unknown_key":"ignored","nested_extra":{"z":1}}""",
    // 4. malformed line → dropped, file still ingests (Q7)
    """{not json""",
    // 5. deep nesting: struct containing list and map values
    """{"id":5,"event_date":"2024-01-01","event_time":"00:00:00","user_id":1000,"category":"batch","payload":{"a":-1,"b":"deep","c":[0.1,0.2,0.3],"d":{"x":1,"y":2}},"tags":["a","b","c"],"attrs":{"m":"n","o":"p"}}"""
  )

  /** Write the fixture tree under a fresh temp dir:
    * `events/comp1/batch-0.json`, empty `events/comp1/empty.json` (Q10),
    * and `events/comp2/x.json` (A1 prefix filter — must NOT be read).
    */
  def writeFixtures(root: String): Unit = {
    val comp1 = Paths.get(root, "events", "comp1")
    val comp2 = Paths.get(root, "events", "comp2")
    Files.createDirectories(comp1); Files.createDirectories(comp2)
    Files.writeString(comp1.resolve("batch-0.json"), fixtureLines.mkString("\n"))
    Files.writeString(comp1.resolve("empty.json"), "")
    Files.writeString(comp2.resolve("x.json"),
      """{"id":999,"event_date":"2020-01-01","user_id":1,"category":"other"}""")
  }


  /** Read-back projection shared by the batch and streaming e2e rows —
    * same 17 scalar columns, same total order, so both pipelines are
    * held to the IDENTICAL golden oracle. Reads the live set through the
    * commit log, as every lake read must.
    */
  private def readBack(spark: SparkSession, tableDir: String): DataFrame =
    graft.sink.LakeOps.readTable(spark, tableDir)
      .select(col("id"), col("event_date"), col("event_time"), col("user_id"),
        col("category"), col("amount"), col("score"), col("ratio"), col("count"),
        col("flag"), col("payload.a").as("payload_a"), col("payload.b").as("payload_b"),
        // scalars only in the final projection: the driver comparator
        // cannot sort/hash array cells (CORRECTNESS_r01 crash); array
        // round-trip itself stays asserted in IngestSpec
        concat_ws(",", col("tags")).as("tags_str"),
        size(col("tags")).as("n_tags"),
        col("event_date_day").cast("string").as("event_date_day"),
        col("user_id_bucket").cast("int").as("user_id_bucket"),
        col("category_identity").cast("string").as("category_identity"))
      .orderBy("id")

  /** Eager protocol (r5): collect the small fixture result (schema
    * preserved exactly via createDataFrame), delete the temp lake, so
    * repeated Bench/Time/Verify runs don't fill /tmp.
    */
  private def collectAndClean(spark: SparkSession,
      result: DataFrame, rootPath: java.nio.file.Path): DataFrame = {
    val rows = result.collect()
    val out = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), result.schema)
    LocalFs.deleteTree(rootPath)
    out
  }

  def run(spark: SparkSession): DataFrame = {
    val rootPath = Files.createTempDirectory("graft_ingest_")
    val root = rootPath.toString
    val tableDir = s"$root/warehouse/events_ingest"
    writeFixtures(root)
    Pipeline.ingest(spark, root, "comp1", fixtureTable, tableDir)
    collectAndClean(spark, readBack(spark, tableDir), rootPath)
  }

  /** The same fixture tree drained through the STREAMING ingest path
    * (`StreamingIngest.ingestAvailableNow`: file stream → foreachBatch
    * lake append with replay fencing) instead of the batch Pipeline.
    */
  def runStreaming(spark: SparkSession): DataFrame = {
    val rootPath = Files.createTempDirectory("graft_singest_")
    val root = rootPath.toString
    val tableDir = s"$root/warehouse/events_ingest"
    writeFixtures(root)
    val q = graft.streaming.StreamingIngest.ingestAvailableNow(
      spark, root, "comp1", fixtureTable, tableDir, s"$root/ckpt")
    q.awaitTermination()
    collectAndClean(spark, readBack(spark, tableDir), rootPath)
  }

  /** The golden 17-column × 4-row oracle BOTH ingest rows share (every
    * value derived from first principles in the scaladoc above /
    * FIXTURES.md §B) — batch and streaming pipelines are held to the
    * identical expected output.
    */
  private val IngestGoldenSql =
    """SELECT CAST(id AS BIGINT) AS id, CAST(event_date AS DATE) AS event_date,
      |  CAST(event_time AS BIGINT) AS event_time, CAST(user_id AS BIGINT) AS user_id,
      |  category, CAST(amount AS DECIMAL(10,2)) AS amount,
      |  CAST(score AS DOUBLE) AS score, CAST(ratio AS REAL) AS ratio,
      |  CAST(count AS INTEGER) AS count, CAST(flag AS BOOLEAN) AS flag,
      |  CAST(payload_a AS INTEGER) AS payload_a, payload_b, tags_str,
      |  CAST(n_tags AS INTEGER) AS n_tags, event_date_day,
      |  CAST(user_id_bucket AS INTEGER) AS user_id_bucket, category_identity
      |FROM (VALUES
      |  (1, DATE '2024-03-15', 37425000000000, 42, 'web', 123.45, 0.9, 0.5, 7, true,
      |   1, 'x', 't1,t2', 2, '2024-03-15', 10, 'web'),
      |  (2, NULL, 86399000000000, 7, NULL, 0.01, 1.0, 1.5, 1, false,
      |   2, 'y', '', 0, 'null', 7, 'null'),
      |  (3, DATE '2023-12-31', NULL, -5, 'api', NULL, NULL, NULL, NULL, NULL,
      |   NULL, NULL, '', NULL, '2023-12-31', 4, 'api'),
      |  (5, DATE '2024-01-01', 0, 1000, 'batch', NULL, NULL, NULL, NULL, NULL,
      |   -1, 'deep', 'a,b,c', 3, '2024-01-01', 8, 'batch'))
      | t(id, event_date, event_time, user_id, category, amount, score, ratio,
      |   count, flag, payload_a, payload_b, tags_str, n_tags, event_date_day,
      |   user_id_bucket, category_identity)
      |ORDER BY id""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef("ingest_e2e", (s: SparkSession, _: String) => run(s),
      Some(IngestGoldenSql)),

    // ------------------------------------------------------------------
    // stream_ingest_e2e ★ (new r5) — the reference's ACTUAL JOB — drain
    // a directory of JSON-lines files into a partitioned lake table —
    // through the STREAMING runtime (`StreamingIngest
    // .ingestAvailableNow`: file source → schema'd decode → partition
    // transforms → foreachBatch lake append, replay-fenced by
    // `stream:<ckpt>:<batchId>` source keys), held to the IDENTICAL
    // golden oracle as the batch ingest_e2e row. One declared row
    // proving batch and micro-batch ingest converge byte-for-byte on
    // the same input — the property that lets a deployment switch
    // between the two paths (backfill batch, tail streaming) without a
    // reconciliation step.
    QueryDef("stream_ingest_e2e", (s: SparkSession, _: String) => runStreaming(s),
      Some(IngestGoldenSql)),

    // ------------------------------------------------------------------
    // lake_ops_e2e (new r5) — the TABLE-MAINTENANCE lifecycle as a
    // declared query: append → append → compact (rewrite snapshot) →
    // append → expire old snapshots, observing after each step the
    // snapshot-isolated row count, live-file count, and content sum
    // through time travel (`LakeOps.readSnapshot` resolves files
    // through the commit log, never the directory listing). Everything
    // observed is DETERMINISTIC: appends repartition on the partition
    // key, so each (append, category) writes exactly one file, and the
    // compactor bin-packs to one file per partition dir — the golden
    // VALUES oracle pins the full ledger (4 A+B files expired once the
    // rewrite makes them unreachable from the kept 2 snapshots).
    // Every number in the output is COMPUTED from the lake state, not
    // restated: the query fails the oracle if snapshot isolation,
    // rewrite semantics, partition values read from the paths, or expiry
    // reachability drift. (Same trust argument as ingest_e2e: constant
    // fixture input ⇒ fixed expected output, DuckDB can't run the
    // pipeline itself.)
    QueryDef("lake_ops_e2e", (s: SparkSession, _: String) => {
      import s.implicits._
      import graft.sink.{GraftLog, HiveParquetWriter, LakeOps}
      val tmpRoot = Files.createTempDirectory("graft_lake_")
      val tableDir = tmpRoot.toString + "/warehouse/t"
      val w = new HiveParquetWriter
      def snapRow(step: Long, id: Long): (Long, String, Long, Long, Long, Long) = {
        val op = GraftLog.records(tableDir).find(_.snapshotId == id).get.op
        val a = LakeOps.readSnapshot(s, tableDir, id)
          .agg(count(lit(1)).cast("long"), sum(col("v")).cast("long")).head()
        (step, op, a.getLong(0),
          GraftLog.liveFiles(tableDir, Some(id)).size.toLong, a.getLong(1), 0L)
      }
      val s1 = w.append(Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c2", 30L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r1 = snapRow(1, s1)
      val s2 = w.append(Seq((4L, "c2", 40L), (5L, "c3", 50L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r2 = snapRow(2, s2)
      val s3 = LakeOps.compact(s, tableDir).snapshotId
      val r3 = snapRow(3, s3)
      val s4 = w.append(Seq((6L, "c1", 60L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r4 = snapRow(4, s4)
      val expired = LakeOps.expireSnapshots(tableDir, keepLast = 2).size.toLong
      val fin = LakeOps.readTable(s, tableDir)
        .agg(count(lit(1)).cast("long"), sum(col("v")).cast("long")).head()
      val r5 = (5L, "post_expiry", fin.getLong(0),
        GraftLog.liveFiles(tableDir, None).size.toLong, fin.getLong(1), expired)
      // every observation is a collected scalar by now — delete the
      // temp lake so repeated Bench/Time runs don't fill /tmp
      LocalFs.deleteTree(tmpRoot)
      Seq(r1, r2, r3, r4, r5)
        .toDF("step", "op", "n_rows", "n_files", "sum_v", "n_expired")
        .orderBy("step")
    },
      Some("""SELECT CAST(step AS BIGINT) AS step, op,
             |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_files AS BIGINT) AS n_files,
             |  CAST(sum_v AS BIGINT) AS sum_v, CAST(n_expired AS BIGINT) AS n_expired
             |FROM (VALUES
             |  (1, 'append',      3, 2, 60,  0),
             |  (2, 'append',      5, 4, 150, 0),
             |  (3, 'rewrite',     5, 3, 150, 0),
             |  (4, 'append',      6, 4, 210, 0),
             |  (5, 'post_expiry', 6, 4, 210, 4))
             | t(step, op, n_rows, n_files, sum_v, n_expired)
             |ORDER BY step""".stripMargin)),

    // lake_rollback_e2e ★ (new r14) — ROLLBACK as a declared row:
    // Iceberg's `rollback_to_snapshot` is the recovery op every lake
    // deployment eventually runs (bad upsert, bad delete → restore),
    // and its semantics are subtle enough to pin: a rollback is a
    // FORWARD commit (a `rewrite` whose live set is the target
    // snapshot's), so history stays append-only — the rolled-back-over
    // snapshots remain time-travel-readable until expiry, and the
    // rollback is itself roll-back-able. Lifecycle here: append →
    // upsert (update + insert) → delete → ROLLBACK to s1 → append,
    // observing (rows, live files, content sum) at every snapshot,
    // plus the step that proves history survived: re-reading the
    // DELETE snapshot AFTER the rollback still shows the deleted
    // state. Golden VALUES oracle (the lake_ops_e2e trust argument:
    // constant fixture ⇒ fixed ledger; every number is computed from
    // the lake state, so snapshot isolation, the restored-live-set
    // row fold, or history preservation drifting fails the hash).
    QueryDef("lake_rollback_e2e", (s: SparkSession, _: String) => {
      import s.implicits._
      import graft.sink.{GraftLog, HiveParquetWriter, LakeOps}
      val tmpRoot = Files.createTempDirectory("graft_rollback_")
      val tableDir = tmpRoot.toString + "/warehouse/t"
      val w = new HiveParquetWriter
      def snapRow(step: Long, label: String, id: Long): (Long, String, Long, Long, Long) = {
        val a = LakeOps.readSnapshot(s, tableDir, id)
          .agg(count(lit(1)).cast("long"), sum(col("v")).cast("long")).head()
        (step, label, a.getLong(0),
          GraftLog.liveFiles(tableDir, Some(id)).size.toLong, a.getLong(1))
      }
      val s1 = w.append(Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c2", 30L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r1 = snapRow(1, "append", s1)
      val s2 = LakeOps.upsert(s, tableDir,
        Seq((2L, "c1", 21L), (4L, "c2", 40L)).toDF("id", "category", "v"),
        keyCols = Seq("id"), partitionCols = Seq("category")).snapshotId
      val r2 = snapRow(2, "upsert", s2)
      val s3 = LakeOps.delete(s, tableDir, col("category") === "c2",
        Seq("category")).snapshotId
      val r3 = snapRow(3, "delete", s3)
      val s4 = LakeOps.rollback(tableDir, s1).snapshotId
      val r4 = snapRow(4, "rollback_to_s1", s4)
      val s5 = w.append(Seq((6L, "c3", 60L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r5 = snapRow(5, "append", s5)
      // history preserved: the delete snapshot reads the same AFTER the
      // rollback commit landed on top of it
      val r6 = snapRow(6, "s3_after_rollback", s3)
      LocalFs.deleteTree(tmpRoot)
      Seq(r1, r2, r3, r4, r5, r6)
        .toDF("step", "op", "n_rows", "n_files", "sum_v")
        .orderBy("step")
    },
      Some("""SELECT CAST(step AS BIGINT) AS step, op,
             |  CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST(n_files AS BIGINT) AS n_files,
             |  CAST(sum_v AS BIGINT) AS sum_v
             |FROM (VALUES
             |  (1, 'append',            3, 2, 60),
             |  (2, 'upsert',            4, 2, 101),
             |  (3, 'delete',            2, 1, 31),
             |  (4, 'rollback_to_s1',    3, 2, 60),
             |  (5, 'append',            4, 3, 120),
             |  (6, 's3_after_rollback', 2, 1, 31))
             | t(step, op, n_rows, n_files, sum_v)
             |ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // lake_upsert_e2e (new r5) — copy-on-write MERGE as a declared
    // query: append 3 rows across partitions c1/c2, then upsert a batch
    // that UPDATES key 2 (in c1) and INSERTS key 7 (new partition c3),
    // observing each snapshot's row count, live-file count, content sum
    // — and `n_shared`, the file-path intersection between the pre- and
    // post-merge snapshots, which proves the rewrite scope was the
    // TOUCHED partitions only (exactly the untouched c2 file is shared;
    // 0 or 3 would mean full-table rewrite or isolation breakage). Step
    // 3 re-reads the PRE-merge snapshot after the merge committed:
    // snapshot isolation across a content change, not just compaction.
    // Every observed number is computed from the live lake state (the
    // lake_ops_e2e trust argument); the golden VALUES oracle pins the
    // ledger. Determinism: appends/upserts repartition on the partition
    // key → exactly one file per (write, partition).
    QueryDef("lake_upsert_e2e", (s: SparkSession, _: String) => {
      import s.implicits._
      import graft.sink.{GraftLog, HiveParquetWriter, LakeOps}
      val tmpRoot = Files.createTempDirectory("graft_upsert_")
      val tableDir = tmpRoot.toString + "/warehouse/t"
      val w = new HiveParquetWriter
      def obs(step: Long, op: String, id: Long, shared: Long): (Long, String, Long, Long, Long, Long) = {
        val a = LakeOps.readSnapshot(s, tableDir, id)
          .agg(count(lit(1)).cast("long"), sum(col("v")).cast("long")).head()
        (step, op, a.getLong(0),
          GraftLog.liveFiles(tableDir, Some(id)).size.toLong, a.getLong(1), shared)
      }
      val s1 = w.append(Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c2", 30L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r1 = obs(1, "append", s1, 0L)
      val s2 = LakeOps.upsert(s, tableDir,
        Seq((2L, "c1", 25L), (7L, "c3", 70L)).toDF("id", "category", "v"),
        keyCols = Seq("id"), partitionCols = Seq("category")).snapshotId
      val shared = GraftLog.liveFiles(tableDir, Some(s1))
        .intersect(GraftLog.liveFiles(tableDir, Some(s2))).size.toLong
      val r2 = obs(2, "overwrite", s2, shared)
      val r3 = obs(3, "time_travel", s1, shared)
      LocalFs.deleteTree(tmpRoot)
      Seq(r1, r2, r3)
        .toDF("step", "op", "n_rows", "n_files", "sum_v", "n_shared")
        .orderBy("step")
    },
      Some("""SELECT CAST(step AS BIGINT) AS step, op,
             |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_files AS BIGINT) AS n_files,
             |  CAST(sum_v AS BIGINT) AS sum_v, CAST(n_shared AS BIGINT) AS n_shared
             |FROM (VALUES
             |  (1, 'append',      3, 2, 60,  0),
             |  (2, 'overwrite',   4, 3, 135, 1),
             |  (3, 'time_travel', 3, 2, 60,  1))
             | t(step, op, n_rows, n_files, sum_v, n_shared)
             |ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // lake_delete_e2e (new r5) — copy-on-write DELETE as a declared
    // query (the GDPR/forget primitive): append 5 rows across
    // partitions c1/c2/c3 (one with a NULL metric), then
    // `DELETE WHERE v >= 45 OR id = 2` — which must (a) remove exactly
    // the two TRUE-predicate rows, (b) keep the NULL-predicate row
    // (SQL DELETE semantics: NULL is not TRUE), (c) rewrite ONLY the
    // partitions containing a match — c2 holds survivors only and must
    // carry over byte-identical (n_shared = 1 proves it), and (d) drop
    // partition c3 entirely when its last row dies (its file count
    // reaches 0 without a tombstone). Step 3 time-travels to the
    // pre-delete snapshot — the erased rows are still THERE until
    // expiry, which is exactly Iceberg's documented compliance story
    // (COW delete + expire_snapshots = the true erasure point). Step 4
    // is a predicate matching nothing: the Q10 no-empty-snapshot rule
    // must make it a no-op (snapshot count unchanged, live set shared
    // 2/2 with the delete snapshot). Golden VALUES oracle; every
    // number is computed from the lake state, not restated.
    QueryDef("lake_delete_e2e", (s: SparkSession, _: String) => {
      import s.implicits._
      import graft.sink.{GraftLog, HiveParquetWriter, LakeOps}
      val tmpRoot = Files.createTempDirectory("graft_delete_")
      val tableDir = tmpRoot.toString + "/warehouse/t"
      val w = new HiveParquetWriter
      def obs(step: Long, op: String, id: Long, del: Long, shared: Long)
          : (Long, String, Long, Long, Long, Long, Long) = {
        val a = LakeOps.readSnapshot(s, tableDir, id)
          .agg(count(lit(1)).cast("long"),
            coalesce(sum(col("v")), lit(0L)).cast("long")).head()
        (step, op, a.getLong(0),
          GraftLog.liveFiles(tableDir, Some(id)).size.toLong, a.getLong(1),
          del, shared)
      }
      val s1 = w.append(
        Seq((1L, "c1", Some(10L)), (2L, "c1", Some(20L)), (3L, "c2", Some(30L)),
          (4L, "c2", None: Option[Long]), (5L, "c3", Some(50L)))
          .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r1 = obs(1, "append", s1, 0L, 0L)
      val d = LakeOps.delete(s, tableDir,
        col("v") >= 45L || col("id") === 2L, partitionCols = Seq("category"))
      val shared = GraftLog.liveFiles(tableDir, Some(s1))
        .intersect(GraftLog.liveFiles(tableDir, Some(d.snapshotId))).size.toLong
      val r2 = obs(2, "delete", d.snapshotId, d.rows, shared)
      val r3 = obs(3, "time_travel", s1, 0L, shared)
      val noop = LakeOps.delete(s, tableDir, col("id") === 999L,
        partitionCols = Seq("category"))
      val nSnaps = GraftLog.records(tableDir).size.toLong
      val sharedNoop = GraftLog.liveFiles(tableDir, Some(d.snapshotId))
        .intersect(GraftLog.liveFiles(tableDir, None)).size.toLong
      val r4 = obs(4, s"noop_snaps_$nSnaps", d.snapshotId, noop.rows, sharedNoop)
      LocalFs.deleteTree(tmpRoot)
      Seq(r1, r2, r3, r4)
        .toDF("step", "op", "n_rows", "n_files", "sum_v", "n_deleted", "n_shared")
        .orderBy("step")
    },
      Some("""SELECT CAST(step AS BIGINT) AS step, op,
             |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_files AS BIGINT) AS n_files,
             |  CAST(sum_v AS BIGINT) AS sum_v, CAST(n_deleted AS BIGINT) AS n_deleted,
             |  CAST(n_shared AS BIGINT) AS n_shared
             |FROM (VALUES
             |  (1, 'append',       5, 3, 110, 0, 0),
             |  (2, 'delete',       3, 2, 40,  2, 1),
             |  (3, 'time_travel',  5, 3, 110, 0, 1),
             |  (4, 'noop_snaps_2', 3, 2, 40,  0, 2))
             | t(step, op, n_rows, n_files, sum_v, n_deleted, n_shared)
             |ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // lake_incremental_e2e (new r5) — the incremental APPEND SCAN as a
    // declared query (Iceberg's incremental-from-snapshot read; the
    // consumer side of a CDC pipeline — downstream jobs read only the
    // delta between the snapshot they last processed and now, never
    // rescanning history; at 100 TB this is the difference between a
    // minutes-long delta job and a full-table pass). Scenario: three
    // appends A/B/C, then (1) the (s1, s3] delta must be exactly B∪C
    // and (2) the (s2, s3] delta exactly C — rows, file counts, and
    // content sums all computed from the lake state. Step 3: COMPACT
    // the table, then ask for a delta across the rewrite — the read
    // must REFUSE (a rewrite re-binds rows to files, so a file-set
    // delta over it would re-emit every row as if new; Iceberg's
    // incremental scan raises the same error), observed as flag = 1.
    // Step 4: an append AFTER the rewrite is incrementally readable
    // again — the refusal is range-scoped, not table-permanent.
    // Golden VALUES oracle (constant fixture ⇒ fixed ledger), same
    // trust argument as the other lake rows.
    QueryDef("lake_incremental_e2e", (s: SparkSession, _: String) => {
      import s.implicits._
      import graft.sink.{HiveParquetWriter, LakeOps}
      val tmpRoot = Files.createTempDirectory("graft_incr_")
      val tableDir = tmpRoot.toString + "/warehouse/t"
      val w = new HiveParquetWriter
      def inc(step: Long, op: String, from: Long, to: Long): (Long, String, Long, Long, Long, Long) = {
        val d = LakeOps.readIncremental(s, tableDir, from, to)
        val a = d.agg(count(lit(1)).cast("long"), sum(col("v")).cast("long")).head()
        (step, op, a.getLong(0), d.inputFiles.length.toLong, a.getLong(1), 0L)
      }
      val s1 = w.append(Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c2", 30L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val s2 = w.append(Seq((4L, "c2", 40L), (5L, "c3", 50L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val s3 = w.append(Seq((6L, "c1", 60L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r1 = inc(1, "inc_s1_s3", s1, s3)
      val r2 = inc(2, "inc_s2_s3", s2, s3)
      val s4 = LakeOps.compact(s, tableDir).snapshotId
      val r3 =
        try { inc(3, "must_refuse", s1, s4) }
        catch { case _: IllegalArgumentException =>
          (3L, "refused_rewrite", 0L, 0L, 0L, 1L) }
      val s5 = w.append(Seq((7L, "c2", 70L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r4 = inc(4, "inc_post_compact", s4, s5)
      LocalFs.deleteTree(tmpRoot)
      Seq(r1, r2, r3, r4)
        .toDF("step", "op", "n_rows", "n_files", "sum_v", "refused")
        .orderBy("step")
    },
      Some("""SELECT CAST(step AS BIGINT) AS step, op,
             |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_files AS BIGINT) AS n_files,
             |  CAST(sum_v AS BIGINT) AS sum_v, CAST(refused AS BIGINT) AS refused
             |FROM (VALUES
             |  (1, 'inc_s1_s3',        3, 3, 150, 0),
             |  (2, 'inc_s2_s3',        1, 1, 60,  0),
             |  (3, 'refused_rewrite',  0, 0, 0,   1),
             |  (4, 'inc_post_compact', 1, 1, 70,  0))
             | t(step, op, n_rows, n_files, sum_v, refused)
             |ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // lake_diff_e2e (new r5) — the row-level CHANGELOG between two
    // snapshots as a declared query (`LakeOps.diffSnapshots`, Iceberg's
    // create_changelog_view): append 4 keys → upsert (update key 2,
    // insert key 5) → COMPACT (a rewrite between the endpoints — the
    // diff is content-level, so re-binding rows to files must be
    // invisible) → delete key 3, then diff(first, last). Every change
    // class appears exactly once alongside unchanged carriers; the
    // golden VALUES oracle pins the full tagged ledger. What this row
    // proves over lake_incremental_e2e: incremental is append-only by
    // contract and refuses rewrites; the changelog is the CDC answer
    // for ranges that CONTAIN rewrites/deletes/upserts.
    QueryDef("lake_diff_e2e", (s: SparkSession, _: String) => {
      import s.implicits._
      import graft.sink.{HiveParquetWriter, LakeOps}
      val tmpRoot = Files.createTempDirectory("graft_diff_")
      val tableDir = tmpRoot.toString + "/warehouse/t"
      val w = new HiveParquetWriter
      val s1 = w.append(
        Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c2", 30L), (4L, "c2", 40L))
          .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      LakeOps.upsert(s, tableDir,
        Seq((2L, "c1", 21L), (5L, "c3", 50L)).toDF("id", "category", "v"),
        Seq("id"), Seq("category"))
      LakeOps.compact(s, tableDir) // rewrite inside the range: must be invisible
      val s4 = LakeOps.delete(s, tableDir, col("id") === 3L, Seq("category")).snapshotId
      val out = LakeOps.diffSnapshots(s, tableDir, s1, s4, Seq("id"))
        .select(col("id"), col("change"),
          col("_before.v").as("v_before"), col("_after.v").as("v_after"))
        .as[(Long, String, Option[Long], Option[Long])].collect().toSeq.sortBy(_._1)
      LocalFs.deleteTree(tmpRoot)
      out.toDF("id", "change", "v_before", "v_after").orderBy("id")
    },
      Some("""SELECT CAST(id AS BIGINT) AS id, change,
             |  CAST(v_before AS BIGINT) AS v_before,
             |  CAST(v_after AS BIGINT) AS v_after
             |FROM (VALUES
             |  (1, 'unchanged', 10,   10),
             |  (2, 'updated',   20,   21),
             |  (3, 'deleted',   30,   NULL),
             |  (4, 'unchanged', 40,   40),
             |  (5, 'inserted',  NULL, 50))
             | t(id, change, v_before, v_after)
             |ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // lake_schema_evolution_e2e (new r5) — ADD-COLUMN schema evolution
    // as a declared query (Iceberg's most common ALTER TABLE; at 100 TB
    // "rewrite the table to add a column" is not an option — the new
    // column must land write-forward, with history intact). Scenario:
    // append batch A with (id, category, v); append batch B with an
    // extra `score` column; then observe
    //   step 1: the PRE-evolution snapshot read at its own time — the
    //     narrow 3-column schema (time travel travels the SCHEMA too,
    //     not just the rows);
    //   step 2: the current table — 4 columns, batch-A rows read
    //     `score` as NULL (write-forward semantics), batch-B scores
    //     sum intact;
    //   step 3: a filter on the NEW column against the full table —
    //     NULL-safe predicate semantics over pre-evolution rows (old
    //     rows are not phantom matches);
    //   step 4: the pre-evolution snapshot re-read AFTER more writes —
    //     still narrow, still the original 3 rows (isolation + schema
    //     both travel).
    // Column lists are exported as a sorted string so the oracle pins
    // the exact schema at each step. Golden VALUES oracle — constant
    // fixture ⇒ fixed ledger (the lake_ops_e2e trust argument).
    QueryDef("lake_schema_evolution_e2e", (s: SparkSession, _: String) => {
      import s.implicits._
      import graft.sink.{HiveParquetWriter, LakeOps}
      val tmpRoot = Files.createTempDirectory("graft_evo_")
      val tableDir = tmpRoot.toString + "/warehouse/t"
      val w = new HiveParquetWriter
      def obs(step: Long, op: String, df: org.apache.spark.sql.DataFrame):
          (Long, String, Long, String, Long, Long, Long) = {
        val cols = df.columns.sorted.mkString(",")
        val hasScore = df.columns.contains("score")
        val a =
          if (hasScore)
            df.agg(count(lit(1)).cast("long"), sum(col("v")).cast("long"),
              sum(col("score")).cast("long"),
              sum(when(col("score").isNull, 1L).otherwise(0L)).cast("long")).head()
          else df.agg(count(lit(1)).cast("long"), sum(col("v")).cast("long"),
            lit(0L), lit(0L)).head()
        (step, op, a.getLong(0), cols, a.getLong(1), a.getLong(2), a.getLong(3))
      }
      val s1 = w.append(Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c2", 30L))
        .toDF("id", "category", "v"), Seq("category"), tableDir).snapshotId
      val r1 = obs(1, "pre_evolution", LakeOps.readSnapshot(s, tableDir, s1))
      w.append(Seq((4L, "c2", 40L, 85L), (5L, "c3", 50L, 95L))
        .toDF("id", "category", "v", "score"), Seq("category"), tableDir)
      val r2 = obs(2, "evolved", LakeOps.readTable(s, tableDir))
      val r3 = obs(3, "filter_new_col",
        LakeOps.readTable(s, tableDir).filter(col("score") >= 90L))
      val r4 = obs(4, "time_travel_narrow", LakeOps.readSnapshot(s, tableDir, s1))
      LocalFs.deleteTree(tmpRoot)
      Seq(r1, r2, r3, r4)
        .toDF("step", "op", "n_rows", "cols", "sum_v", "sum_score", "n_score_null")
        .orderBy("step")
    },
      Some("""SELECT CAST(step AS BIGINT) AS step, op,
             |  CAST(n_rows AS BIGINT) AS n_rows, cols,
             |  CAST(sum_v AS BIGINT) AS sum_v,
             |  CAST(sum_score AS BIGINT) AS sum_score,
             |  CAST(n_score_null AS BIGINT) AS n_score_null
             |FROM (VALUES
             |  (1, 'pre_evolution',      3, 'category,id,v',       60,  0,   0),
             |  (2, 'evolved',            5, 'category,id,score,v', 150, 180, 3),
             |  (3, 'filter_new_col',     1, 'category,id,score,v', 50,  95,  0),
             |  (4, 'time_travel_narrow', 3, 'category,id,v',       60,  0,   0))
             | t(step, op, n_rows, cols, sum_v, sum_score, n_score_null)
             |ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // lake_skip_e2e (new r5) — manifest-style FILE SKIPPING as a
    // declared query: `LakeOps.readPruned` resolves the live set
    // through the commit log, reads each file's parquet FOOTER min/max
    // for the filter column (the stats an Iceberg manifest carries per
    // data file), and opens ONLY the files whose range intersects the
    // predicate — at 100 TB this is the difference between a full-table
    // pass and touching one file; sorted-on-write tables make it the
    // primary access path. Three single-file appends with disjoint
    // v-ranges (10–30 / 40–60 / 70–90), then:
    //   step 1: a range spanning all files — nothing prunable, 3/3
    //     scanned (the honest baseline);
    //   step 2: v ∈ [40,60] — exactly 1/3 files opened, same rows a
    //     full scan + filter returns (pruning is PHYSICAL only);
    //   step 3: v ∈ [1000,2000] — zero files opened, empty result;
    //   step 4: v ∈ [55,75] straddling two files — 2/3 opened and the
    //     ROW filter still applies inside them (file-level skip,
    //     row-level truth);
    //   step 5: after COMPACT — stats recomputed from the rewritten
    //     live set, pruning still 1/3 for [40,60] (per-partition
    //     bin-packing preserves the disjoint ranges here).
    // Golden VALUES oracle — constant fixture ⇒ fixed ledger.
    QueryDef("lake_skip_e2e", (s: SparkSession, _: String) => {
      import s.implicits._
      import graft.sink.{HiveParquetWriter, LakeOps}
      val tmpRoot = Files.createTempDirectory("graft_skip_")
      val tableDir = tmpRoot.toString + "/warehouse/t"
      val w = new HiveParquetWriter
      def scan(step: Long, op: String, lo: Long, hi: Long):
          (Long, String, Long, Long, Long, Long) = {
        val (df, scanned, live) = LakeOps.readPruned(s, tableDir, "v", lo, hi)
        // coalesce: a scanned file can still match ZERO rows (stats
        // intersect, rows don't) — sum would be NULL, not absent
        val a = df.agg(count(lit(1)).cast("long"),
          coalesce(sum(col("v")), lit(0L)).cast("long")).head()
        (step, op, live.toLong, scanned.toLong, a.getLong(0), a.getLong(1))
      }
      w.append(Seq((1L, "c1", 10L), (2L, "c1", 20L), (3L, "c1", 30L))
        .toDF("id", "category", "v"), Seq("category"), tableDir)
      w.append(Seq((4L, "c2", 40L), (5L, "c2", 50L), (6L, "c2", 60L))
        .toDF("id", "category", "v"), Seq("category"), tableDir)
      w.append(Seq((7L, "c3", 70L), (8L, "c3", 80L), (9L, "c3", 90L))
        .toDF("id", "category", "v"), Seq("category"), tableDir)
      val r1 = scan(1, "span_all", 10L, 90L)
      val r2 = scan(2, "one_file", 40L, 60L)
      val r3 = scan(3, "no_file", 1000L, 2000L)
      val r4 = scan(4, "straddle", 55L, 75L)
      LakeOps.compact(s, tableDir)
      val r5 = scan(5, "post_compact", 40L, 60L)
      LocalFs.deleteTree(tmpRoot)
      Seq(r1, r2, r3, r4, r5)
        .toDF("step", "op", "n_live", "n_scanned", "n_rows", "sum_v")
        .orderBy("step")
    },
      Some("""SELECT CAST(step AS BIGINT) AS step, op,
             |  CAST(n_live AS BIGINT) AS n_live,
             |  CAST(n_scanned AS BIGINT) AS n_scanned,
             |  CAST(n_rows AS BIGINT) AS n_rows, CAST(sum_v AS BIGINT) AS sum_v
             |FROM (VALUES
             |  (1, 'span_all',     3, 3, 9, 450),
             |  (2, 'one_file',     3, 1, 3, 150),
             |  (3, 'no_file',      3, 0, 0, 0),
             |  (4, 'straddle',     3, 2, 2, 130),
             |  (5, 'post_compact', 3, 1, 3, 150))
             | t(step, op, n_live, n_scanned, n_rows, sum_v)
             |ORDER BY step""".stripMargin)))
}
