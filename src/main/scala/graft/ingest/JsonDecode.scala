package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sink.KnownFileIndex
import graft.types._

/** JSON-lines decode against a fixed schema — the reference's
  * `parseJsonToRecord` (`App.java:211-239`, SURVEY.md A5-A9) as one
  * schema'd Spark JSON read:
  *
  *  - schema-driven projection: extra JSON keys dropped, missing fields
  *    null (`App.java:219-232`) — free with an explicit read schema;
  *  - malformed JSON line → row silently dropped (Q7,
  *    `App.java:235-238`) — `mode=DROPMALFORMED`;
  *  - DATE parsed strictly as `yyyy-MM-dd` (`App.java:257-259`) — the
  *    Spark JSON default `dateFormat`;
  *  - TIME read as string, coerced to nanos-of-day LongType (micro
  *    precision — Spark's finest);
  *  - TIMESTAMP read as string/number, coerced from either ISO-8601 or
  *    epoch seconds (the Q1 decision, SURVEY.md §1.4).
  *
  * Deviation from the reference, documented: a *well-formed* line whose
  * field fails coercion nulls that field rather than dropping the whole
  * row (the reference's catch-all at `App.java:235-238` drops the row).
  * Field-level nulling loses strictly less data; Q7 here applies to
  * JSON syntax errors. TIME/TIMESTAMP coercion recurses to ANY nesting
  * depth (struct/list/map children), matching the reference's mutually
  * recursive `extractJsonValue` dispatch (`App.java:264-319`).
  */
object JsonDecode {

  /** Raw read schema: TIME/TIMESTAMP as strings (coerced after). */
  def readSchema(schema: GStruct): StructType =
    schema.readSpark.asInstanceOf[StructType]

  /** Does `t` contain a TIME or TIMESTAMP anywhere? (Untouched subtrees
    * keep their raw columns — no rebuild cost for the common case.)
    */
  private def needsCoercion(t: GType): Boolean = t match {
    case GTime | GTimestamp => true
    case GStruct(fs)        => fs.exists(f => needsCoercion(f.gtype))
    case GList(el)          => needsCoercion(el)
    case GMap(v)            => needsCoercion(v)
    case _                  => false
  }

  /** Recursive TIME/TIMESTAMP coercion — the full-depth analogue of the
    * reference's `extractJsonValue` type dispatch (`App.java:264-319`).
    * Containers rebuild only along paths that actually hold a TIME or
    * TIMESTAMP; the container lambdas (`transform`/`transform_values`)
    * are interpreted, which is acceptable on the ingest decode path
    * (per-batch volume, not per-pair) and only paid on annotated paths.
    */
  private def coerceType(c: Column, t: GType): Column = t match {
    case GTime =>
      // "HH:mm:ss[.SSSSSS]" → nanos-of-day (micros * 1000).
      unix_micros(try_to_timestamp(concat(lit("1970-01-01 "), c))) * 1000L
    case GTimestamp =>
      coalesce(try_to_timestamp(c), timestamp_seconds(c.try_cast("DOUBLE")))
    case st @ GStruct(fs) if needsCoercion(st) =>
      // struct() of a null struct's fields would yield a non-null
      // struct of nulls — preserve the null container explicitly
      when(c.isNull, lit(null).cast(st.spark))
        .otherwise(struct(fs.map(f => coerceType(c.getField(f.name), f.gtype).as(f.name)): _*))
    case GList(el) if needsCoercion(el) =>
      transform(c, x => coerceType(x, el))
    case GMap(v) if needsCoercion(v) =>
      transform_values(c, (_, x) => coerceType(x, v))
    case _ => c
  }

  /** TIME/TIMESTAMP coercion (any depth) over an already-read raw frame
    * (shared by the batch and streaming paths).
    */
  def decodeRaw(raw: DataFrame, schema: GStruct): DataFrame =
    raw.select(schema.fields.map(f => coerceType(col(f.name), f.gtype).as(f.name)): _*)

  /** Decode newline-delimited JSON files into the schema's frame,
    * malformed lines dropped (`mode=DROPMALFORMED`). The files go to
    * Spark through the known-files index ([[KnownFileIndex]]): one stat
    * per path on the driver and no listing job, so building the frame
    * starts no Spark job. Paths are literal: a source named
    * `back\slash.json` or `gl*b[1]{x}?.json` reads as itself. A path
    * that is gone throws `FileNotFoundException` here, before any job.
    */
  def read(spark: SparkSession, schema: GStruct, paths: Seq[String]): DataFrame = {
    val files = KnownFileIndex.statuses(spark, paths)
    decodeRaw(KnownFileIndex.read(spark, new JsonFileFormat, files.map(_.getPath), files,
      readSchema(schema), Map("mode" -> "DROPMALFORMED")), schema)
  }
}
