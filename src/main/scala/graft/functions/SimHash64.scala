package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a-64 of one STRING's UTF-8 bytes — the per-token hash
  * [[SimHash64]] folds internally, exposed as its own codegen'd
  * [[Kernel]] for the WEIGHTED SimHash path (Manku et al. WWW'07 §3:
  * per-feature weights): weighting requires joining each token to its
  * corpus df before voting, so the vote runs over exploded
  * (doc, token, weight) rows rather than inside the array fold — the
  * token hash must therefore be computable row-wise. Same constants,
  * same bytes, bit-identical to the hash SimHash64 votes with.
  */
object Fnv64 {
  /** Column-level entry point: `fnv64($"token")`. */
  def fnv64(c: Column): Column =
    Kernel(SimHash64, "fnv1a64", LongType, Seq(StringType))(c)
}

/** 64-bit SimHash of a token array (Charikar 2002, "Similarity
  * estimation techniques from rounding algorithms") — the classic
  * near-duplicate fingerprint: documents with small Hamming distance
  * between their SimHashes have high cosine/overlap similarity.
  *
  * Token hash is FNV-1a 64 over UTF-8 bytes (public-domain constants) —
  * deterministic across JVMs, no dependence on `Object.hashCode`.
  *
  * Implemented as a codegen'd [[Kernel]] so the whole dedup pipeline
  * (tokenize → simhash → band → join) stays inside WholeStageCodegen:
  * one pass per document, no per-token row explosion — at 100 TB that
  * is the difference between a map-only stage and a 100× shuffle blowup
  * of (doc × token) rows.
  *
  * The reference has no near-dup surface (SURVEY.md §2 "absent" list);
  * this is north-star scope.
  */
object SimHash64 {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64 over raw bytes. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** FNV-1a 64 over a string's UTF-8 bytes; called from generated code. */
  def fnv1a64(s: UTF8String): Long = fnv1a64(s.getBytes)

  /** Called from generated code — must stay public + JVM-static-ish. */
  def hash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val acc = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a64(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Plain-Scala reference for specs (operates on Scala strings). */
  def hashTokens(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a64(UTF8String.fromString(t).getBytes)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Column-level entry point: `simHash64($"tokens")`. */
  def simHash64(c: Column): Column =
    Kernel(this, "hash", LongType, Seq(ArrayType(StringType)))(c)
}
