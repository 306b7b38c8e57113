package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.multimodal.Multimodal

/** Codegen'd byte-distribution signals over a binary payload — the
  * codegen'd kernel replacements for the last two interpreted per-row
  * Scala UDFs on a declared query's hot path (q_mm_entropy /
  * q_mm_byte_stats). The arithmetic lives in [[Multimodal.byteEntropyE6]]
  * and [[Multimodal.byteStats]] (exact-integer, oracle-portable —
  * their scaladoc carries the domain proofs and the DuckDB recursive-CTE
  * twin); these [[Kernel]]s only change HOW Spark invokes it: a static
  * call emitted inside whole-stage codegen instead of a Scala-lambda
  * UDF's boxing + encoder round-trip per row. Payload-proportional work
  * amortized the lambda better than the old bloom probe did, but the
  * repo's own 50× hot-path measurement (dev/PERF_NOTES.md) argues for
  * never interpreting a per-row loop the planner can fuse.
  *
  * North-star scope (the reference has no binary surface; cf.
  * `/root/reference/icebergIngest/src/main/java/com/dataphion/hermes/icebergIngest/App.java:241-274`
  * whose coercion switch rejects BINARY outright).
  */
object ByteDist {

  /** Codegen entry: byte-stats tuple as an InternalRow (all longs). */
  def statsRow(bytes: Array[Byte]): InternalRow = {
    val (n, distinct, modal, modalCount, simpson) = Multimodal.byteStats(bytes)
    InternalRow(n, distinct, modal, modalCount, simpson)
  }

  /** Shannon byte entropy in exact-integer e6 units (fixed-point log₂). */
  def byteEntropyE6(bin: Column): Column =
    Kernel(Multimodal, "byteEntropyE6", LongType, Seq(BinaryType))(bin)

  /** (n_bytes, distinct_bytes, modal_byte, modal_count, simpson_e6). */
  def byteStats(bin: Column): Column =
    Kernel(this, "statsRow", StructType(Seq(
      StructField("n_bytes", LongType, nullable = false),
      StructField("distinct_bytes", LongType, nullable = false),
      StructField("modal_byte", LongType, nullable = false),
      StructField("modal_count", LongType, nullable = false),
      StructField("simpson_e6", LongType, nullable = false))),
      Seq(BinaryType))(bin)
}
