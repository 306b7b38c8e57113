package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** 64-bit average hash (aHash) of a binary payload — the cheapest
  * perceptual fingerprint of image dedup pipelines: bit i is set iff
  * byte i of the payload head exceeds the head's mean byte value.
  * Payloads whose heads differ by a few bytes land within a small
  * Hamming distance, so the SimHash band-join machinery finds
  * near-duplicate media without decoding it (and the real decoder,
  * [[graft.multimodal.Multimodal.StubCodec]]'s seam, would feed decoded
  * pixels to the same kernel).
  *
  * The mean compare is EXACT integer arithmetic — bit i = b(i mod n)·n
  * > Σb (never a double mean) — so any engine reproduces the hash
  * bit-for-bit from the bytes. Head = first n = min(64, length) bytes;
  * payloads shorter than 64 bytes are extended CYCLICALLY so all 64
  * bits are live for any non-empty payload — without this, every
  * payload under 49 bytes has a structurally zero top band and the
  * downstream band join degrades to all-pairs among short payloads
  * (review finding; real aHash has the same shape: a fixed 8×8
  * downsample means the bit count never depends on input size). Empty
  * payload → 0L (callers filter empties before pairing).
  *
  * A [[Kernel]] for the same reason as [[SimHash64]]: the hash runs
  * inside WholeStageCodegen as a map-only projection — no row
  * explosion, no UDF boundary.
  */
object AHash64 {

  /** Called from generated code — public, allocation-free. */
  def hash(bytes: Array[Byte]): Long = {
    val n = math.min(64, bytes.length)
    if (n == 0) return 0L
    var s = 0L
    var i = 0
    while (i < n) { s += (bytes(i) & 0xffL); i += 1 }
    var out = 0L
    i = 0
    while (i < 64) {
      if ((bytes(i % n) & 0xffL) * n > s) out |= (1L << i)
      i += 1
    }
    out
  }

  /** Column-level entry point: `aHash64($"payload")`. */
  def aHash64(c: Column): Column =
    Kernel(this, "hash", LongType, Seq(BinaryType))(c)
}
