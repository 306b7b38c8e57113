package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.{JsonDecode, Pipeline, TableDef}
import graft.sink.{GraftLog, HiveParquetWriter, LakeWriter}

/** Structured-Streaming variant of the ingest pipeline (SURVEY.md §2
  * Part B note + §7 step 7): the reference's directory-draining pattern
  * (A22/Q5 — list, parse, delete) is exactly Spark's file streaming
  * source with `cleanSource=delete`, and its batch-job-per-invocation
  * lifecycle is `Trigger.AvailableNow` (drain everything pending, then
  * stop).
  *
  * Semantics upgrade over the reference, documented: the source file is
  * deleted only after its micro-batch is committed to the checkpoint
  * (at-least-once), not before parsing (the reference's at-most-once
  * hole, Q5). The decode + transform + sink code path is shared with
  * the batch pipeline — one implementation, two runtimes.
  */
object StreamingIngest {

  /** Streaming decode of `events/<componentId>/` (same A1-A9 semantics
    * as the batch path; `pathGlobFilter` reproduces the `*.json` keep
    * rule, `maxFilesPerTrigger` bounds micro-batch size at scale).
    */
  def readStream(
      spark: SparkSession,
      baseDir: String,
      componentId: String,
      table: TableDef,
      cleanSource: Boolean,
      maxFilesPerTrigger: Int = 1000): DataFrame = {
    val raw = spark.readStream
      .schema(JsonDecode.readSchema(table.schema))
      .option("mode", "DROPMALFORMED")
      .option("pathGlobFilter", "*.json")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("cleanSource", if (cleanSource) "delete" else "off")
      .json(s"$baseDir/events/$componentId")
    // Same TIME/TIMESTAMP coercion (at any depth) as the batch read.
    Pipeline.withPathColumns(table, JsonDecode.decodeRaw(raw, table.schema))
  }

  /** Idempotent micro-batch append: `foreachBatch` is at-least-once (a
    * crash after the append but before the checkpoint commit replays the
    * same `batchId` on restart), so the append records
    * `stream:<checkpointDir>:<batchId>` as its source key in the commit
    * log and a replayed batch that already committed is skipped — the
    * same exactly-once ledger the batch path uses for re-offered source
    * files (SURVEY.md Q5), keyed by the one identity Structured
    * Streaming guarantees stable across restarts.
    */
  private[graft] def appendBatch(
      writer: LakeWriter, batch: DataFrame, table: TableDef,
      tableDir: String, checkpointDir: String, batchId: Long): Unit = {
    val key = s"stream:$checkpointDir:$batchId"
    if (!GraftLog.committedSources(tableDir).contains(key))
      writer.append(batch, table.partitionSpec.map(_.name), tableDir,
        sources = Seq(key)): Unit
  }

  /** Idempotent micro-batch MERGE: the streaming-upsert integration
    * (readStream → foreachBatch(MERGE) — how Iceberg/Delta CDC sinks
    * are actually written). Each micro-batch is one copy-on-write
    * [[graft.sink.LakeOps.upsert]] commit — last-writer-wins per key
    * WITHIN the stream order, partition-scoped rewrite per batch — and
    * replay idempotence uses the same `stream:<checkpoint>:<batchId>`
    * source-key fencing as [[appendBatch]]: foreachBatch is
    * at-least-once, and replaying a MERGE that already committed would
    * not even be content-idempotent (a second upsert of batch N after
    * batch N+1 committed would resurrect N's values), so the ledger
    * check is correctness-critical here, not just dedup hygiene.
    */
  private[graft] def upsertBatch(
      batch: DataFrame, tableDir: String, keyCols: Seq[String],
      partitionCols: Seq[String], checkpointDir: String, batchId: Long): Unit = {
    val key = s"stream:$checkpointDir:$batchId"
    if (!GraftLog.committedSources(tableDir).contains(key) && !batch.isEmpty)
      graft.sink.LakeOps.upsert(batch.sparkSession, tableDir, batch,
        keyCols, partitionCols, sources = Seq(key)): Unit
  }

  /** Drain a changelog stream into the lake as per-batch MERGE commits
    * and stop (AvailableNow) — the streaming twin of the batch
    * `LakeOps.upsert` path, replay-idempotent via [[upsertBatch]].
    */
  def upsertAvailableNow(
      events: DataFrame, tableDir: String, keyCols: Seq[String],
      partitionCols: Seq[String], checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, tableDir, keyCols, partitionCols, checkpointDir, batchId)
      }
      .start()

  /** Drain pending files into the lake sink and stop (AvailableNow).
    * Each micro-batch appends through the shared LakeWriter — one
    * commit-log snapshot per micro-batch, replay-idempotent via
    * [[appendBatch]].
    */
  def ingestAvailableNow(
      spark: SparkSession,
      baseDir: String,
      componentId: String,
      table: TableDef,
      tableDir: String,
      checkpointDir: String,
      writer: LakeWriter = new HiveParquetWriter): StreamingQuery = {
    readStream(spark, baseDir, componentId, table, cleanSource = true)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(writer, batch, table, tableDir, checkpointDir, batchId)
      }
      .start()
  }
}
