package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, shiftrightunsigned}
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Allocation-free md5 PREFIX hashing (r15, r14 verdict #4).
  *
  * The engine's cross-engine hash identity is everywhere "the first N
  * hex digits of md5(x) as an integer" — in DuckDB
  * `('0x' || substring(md5(x), 1, N))::BIGINT`, and on the Spark side
  * (until r15) `conv(substring(md5(x), 1, N), 16, 10)`. That Spark
  * chain allocates a 32-char hex UTF8String, a substring, and a conv
  * parse PER ROW; on the explode-heavy rows (60M shingle windows at
  * gen-sf10) the churn showed up as 88–210 s GC pauses (PERF_NOTES
  * r14). These [[Kernel]]s compute the SAME VALUE from the raw digest
  * bytes: the first 8 md5 bytes big-endian are a signed long `u`, and
  * the N-hex-digit prefix is exactly `u >>> (64 − 4·N)` for N ≤ 15 —
  * so every call site keeps its bit-identical oracle and only the
  * allocations go. The digest object is thread-local; nothing but the
  * input bytes is allocated per row (and for the fused array variants,
  * not even the joined window string).
  */
object Md5Ops {

  private val Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SpaceByte = Array[Byte](' ')

  private def u64FromDigest(d: Array[Byte]): Long = {
    var u = 0L
    var i = 0
    while (i < 8) { u = (u << 8) | (d(i) & 0xffL); i += 1 }
    u
  }

  /** First 8 md5 bytes of a string, big-endian signed long. */
  def u64(s: UTF8String): Long = {
    val md = Digest.get()
    md.reset()
    md.update(s.getBytes)
    u64FromDigest(md.digest())
  }

  /** First 8 md5 bytes of the space-joined array elements — the SAME
    * bytes `concat_ws(' ', arr)` would hash, streamed into the digest
    * without materializing the joined string. Null elements are
    * skipped by position exactly like UTF8String.concatWs (they join
    * the remaining elements with single separators). */
  def u64Ws(arr: ArrayData): Long = {
    val md = Digest.get()
    md.reset()
    val n = arr.numElements()
    var first = true
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        if (!first) md.update(SpaceByte)
        md.update(arr.getUTF8String(i).getBytes)
        first = false
      }
      i += 1
    }
    u64FromDigest(md.digest())
  }

  /** Per-window shingle md5 u64s: for each `width`-token window of the
    * token array, the first 8 md5 bytes of the space-joined window,
    * WITHOUT building the window string. `distinct = false` keeps
    * every window with its multiplicity (positions align with
    * [[Shingles.shinglesAll]]); `distinct = true` keeps each u64
    * once, by first occurrence — equal to deduping the shingle STRINGS
    * exactly when md5-u64 identity is the downstream identity anyway
    * (it is, everywhere this is used). Windows containing a null token
    * are skipped (split() never produces them), mirroring
    * Shingles.make. Fewer than `width` tokens → empty array. */
  def shingleU64s(arr: ArrayData, width: Int, distinct: Boolean): ArrayData = {
    val n = arr.numElements()
    if (n < width) return new GenericArrayData(Array.empty[Any])
    val md = Digest.get()
    val out = new Array[Any](n - width + 1)
    var outN = 0
    val seen = if (distinct) new java.util.HashSet[java.lang.Long]() else null
    var i = 0
    while (i <= n - width) {
      var j = 0
      var ok = true
      while (j < width && ok) {
        if (arr.isNullAt(i + j)) ok = false
        j += 1
      }
      if (ok) {
        md.reset()
        var k = 0
        while (k < width) {
          if (k > 0) md.update(SpaceByte)
          md.update(arr.getUTF8String(i + k).getBytes)
          k += 1
        }
        val u = u64FromDigest(md.digest())
        if (seen == null || seen.add(u)) {
          out(outN) = u
          outN += 1
        }
      }
      i += 1
    }
    new GenericArrayData(
      if (outN == out.length) out
      else { val t = new Array[Any](outN); System.arraycopy(out, 0, t, 0, outN); t })
  }

  /** Column entry points. `md5Prefix(c, n)` ≡ the engine's historical
    * `conv(substring(md5(c), 1, n), 16, 10).cast("long")` for
    * 1 ≤ n ≤ 15 — same value, no hex-string round-trip. */
  def md5U64(c: Column): Column =
    Kernel(this, "u64", LongType, Seq(StringType))(c)
  def md5WsU64(c: Column): Column =
    Kernel(this, "u64Ws", LongType, Seq(ArrayType(StringType)))(c)
  def md5Prefix(c: Column, hexDigits: Int): Column = {
    require(hexDigits >= 1 && hexDigits <= 15,
      s"md5Prefix supports 1..15 hex digits, got $hexDigits")
    shiftrightunsigned(md5U64(c), 64 - 4 * hexDigits)
  }
  def md5WsPrefix(c: Column, hexDigits: Int): Column = {
    require(hexDigits >= 1 && hexDigits <= 15,
      s"md5WsPrefix supports 1..15 hex digits, got $hexDigits")
    shiftrightunsigned(md5WsU64(c), 64 - 4 * hexDigits)
  }
  def shingleMd5U64s(c: Column, width: Int, distinct: Boolean = false): Column = {
    require(width >= 1, s"shingle width must be >= 1, got $width")
    Kernel(this, "shingleU64s", ArrayType(LongType, containsNull = false),
      Seq(ArrayType(StringType), IntegerType, BooleanType))(
      c, lit(width), lit(distinct))
  }
}
