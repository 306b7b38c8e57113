package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Per-frame byte-energy stats of a binary payload — the frame-level
  * content signal of an audio/video triage pass (silence/black-frame
  * detection runs on exactly this shape; a codec swaps byte sums for
  * sample energy without changing the query): the payload is split
  * into fixed `frameSize`-byte frames (last frame partial) and each
  * frame's unsigned byte sum is folded into (n_frames, sum_e, max_e,
  * min_e) in ONE fused pass — no per-frame array materializes, the
  * loop is a codegen'd [[Kernel]], and all outputs are exact integers,
  * so the DuckDB oracle (hex-parse reconstruction) matches bit-for-bit.
  * Empty payload → (0, 0, 0, 0).
  *
  * North-star scope (the reference has no binary surface; cf.
  * `/root/reference/icebergIngest/src/main/java/com/dataphion/hermes/icebergIngest/App.java:241-274`
  * whose coercion switch rejects BINARY outright).
  */
object FrameEnergy {

  /** Fused stats loop; called from generated code. Frame bounds are
    * derived from the running start, never `(f+1)*frameSize` — at
    * payloads within frameSize of Int.MaxValue (a just-under-2GiB
    * blob) the multiplication form wraps negative, skips the last
    * frame's inner loop, and silently folds a spurious 0 into
    * sum/min. */
  def frameStats(bytes: Array[Byte], frameSize: Int): InternalRow = {
    val n = bytes.length
    if (n == 0) return InternalRow(0L, 0L, 0L, 0L)
    val frames = (n - 1) / frameSize + 1
    var sum = 0L
    var mx = Long.MinValue
    var mn = Long.MaxValue
    var start = 0
    while (start < n) {
      val end = start + math.min(frameSize, n - start)
      var e = 0L
      var i = start
      while (i < end) { e += (bytes(i) & 0xff).toLong; i += 1 }
      sum += e
      if (e > mx) mx = e
      if (e < mn) mn = e
      start = end
    }
    InternalRow(frames.toLong, sum, mx, mn)
  }

  /** Per-frame energies as an array — the run-analysis form ([[q_mm
    * _silence]]-style gaps-and-islands needs frame ROWS, which the
    * fused stats fold deliberately never materializes). Same frame
    * bounds discipline as [[frameStats]]; empty payload → empty array.
    */
  def frameEnergiesArr(bytes: Array[Byte], frameSize: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = bytes.length
    val frames = if (n == 0) 0 else (n - 1) / frameSize + 1
    val out = new Array[Long](frames)
    var f = 0
    var start = 0
    while (start < n) {
      val end = start + math.min(frameSize, n - start)
      var e = 0L
      var i = start
      while (i < end) { e += (bytes(i) & 0xff).toLong; i += 1 }
      out(f) = e
      f += 1
      start = end
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** (n_frames, sum_e, max_e, min_e) struct over `frameSize`-byte frames. */
  def frameEnergy(bin: Column, frameSize: Int): Column = {
    require(frameSize > 0, "frameSize must be positive")
    Kernel(this, "frameStats", StructType(Seq(
      StructField("n_frames", LongType, nullable = false),
      StructField("sum_e", LongType, nullable = false),
      StructField("max_e", LongType, nullable = false),
      StructField("min_e", LongType, nullable = false))),
      Seq(BinaryType, IntegerType))(bin, lit(frameSize))
  }

  /** array<long> of per-frame energies over `frameSize`-byte frames. */
  def frameEnergies(bin: Column, frameSize: Int): Column = {
    require(frameSize > 0, "frameSize must be positive")
    Kernel(this, "frameEnergiesArr", ArrayType(LongType, containsNull = false),
      Seq(BinaryType, IntegerType))(bin, lit(frameSize))
  }
}
