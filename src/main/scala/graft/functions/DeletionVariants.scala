package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All distinct strings reachable from `child` by deleting at most
  * `maxDel` code points — the SymSpell deletion-neighborhood blocking
  * key set (Garbe's symmetric delete spelling-correction algorithm;
  * the same pigeonhole underlies PassJoin, Li et al. VLDB'11).
  *
  * Completeness invariant (maxDel = k): if levenshtein(a, b) ≤ k then
  * a and b share at least one common deletion variant. Proof: fix an
  * optimal alignment; delete from `a` the characters it aligns to
  * substitutions or deletions, and from `b` the characters it aligns
  * to substitutions or insertions — each side deletes ≤ k characters
  * and both land on the aligned common subsequence. So an equi-join on
  * the variant key finds EVERY pair within distance k; a per-candidate
  * exact levenshtein then removes the false positives (variant sharing
  * does not bound the distance: "abcd"/"badc" share "ad" at distance 3).
  *
  * Key count for an L-code-point word at k = 2 is 1 + L + L(L−1)/2 —
  * quadratic in WORD length, constant per vocabulary entry in corpus
  * terms. Deletions operate on code points so the key space matches
  * the code-point semantics of `levenshtein` on both engines.
  *
  * A codegen'd [[Kernel]] for the same reason as [[Shingles]]: the
  * equivalent higher-order-function chain is interpreted, and this runs
  * inside the vocabulary scan's stage.
  */
object DeletionVariants {

  /** Called from generated code. The word itself is always a variant
    * (0 deletions); duplicates from repeated characters are removed.
    */
  def make(w: UTF8String, maxDel: Int): ArrayData = {
    val cps = w.toString.codePoints().toArray
    val n = cps.length
    val seen = new java.util.LinkedHashSet[UTF8String]()
    seen.add(w)
    def emit(skip1: Int, skip2: Int): Unit = {
      val sb = new java.lang.StringBuilder(n)
      var i = 0
      while (i < n) {
        if (i != skip1 && i != skip2) sb.appendCodePoint(cps(i))
        i += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
    }
    if (maxDel >= 1) {
      var i = 0
      while (i < n) { emit(i, -1); i += 1 }
    }
    if (maxDel >= 2) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { emit(i, j); j += 1 }
        i += 1
      }
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }

  /** Column-level entry point: `deletionVariants($"w", 2)`. */
  def deletionVariants(c: Column, maxDel: Int): Column = {
    require(maxDel >= 0 && maxDel <= 2, s"maxDel must be 0..2, got $maxDel")
    Kernel(this, "make", ArrayType(StringType, containsNull = false),
      Seq(StringType, IntegerType))(c, lit(maxDel))
  }
}
