package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `width`-token shingles of a token array, space-joined — the unit of
  * n-gram Jaccard / MinHash dedup (`w`-shingling, Broder 1997, "On the
  * resemblance and containment of documents").
  *
  * `distinct = true` (the dedup default) keeps each shingle once, by
  * first occurrence; `distinct = false` keeps every window with its
  * multiplicity (needed by repetition-quality metrics, where the COUNT
  * of a repeated n-gram is the signal).
  *
  * Semantically identical to
  * `[array_distinct](transform(sequence(1, size(t)-w+1),
  *    i -> concat_ws(' ', slice(t, i, w))))`
  * but implemented as a codegen'd [[Kernel]] because that
  * higher-order-function chain is INTERPRETED: measured 5.0 s for a
  * 260k-shingle pass at sf0.1 (per-element lambda dispatch plus the
  * JIT never warming the megamorphic eval path) vs a plain bytes loop
  * here. At 100 TB the shingle pass runs once per document scan —
  * it must stay inside WholeStageCodegen with the rest of the stage.
  *
  * Fewer than `width` tokens → empty array (a later `explode` drops
  * the document, matching the HOF form's `otherwise(array())`).
  */
object Shingles {
  private val Space = UTF8String.fromString(" ")

  /** Called from generated code. Windows containing a null token are
    * skipped (split() never produces them).
    */
  def make(arr: ArrayData, width: Int, distinct: Boolean): ArrayData = {
    val n = arr.numElements()
    if (n < width) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[UTF8String](n - width + 1)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    val window = new Array[UTF8String](width)
    var i = 0
    while (i <= n - width) {
      var j = 0
      var ok = true
      while (j < width) {
        if (arr.isNullAt(i + j)) ok = false
        else window(j) = arr.getUTF8String(i + j)
        j += 1
      }
      if (ok) {
        val sh = UTF8String.concatWs(Space, window: _*)
        if (seen == null || seen.add(sh)) out.add(sh)
      }
      i += 1
    }
    val arr2 = new Array[Any](out.size)
    var k = 0
    while (k < arr2.length) { arr2(k) = out.get(k); k += 1 }
    new GenericArrayData(arr2)
  }

  private def kernel(c: Column, width: Int, distinct: Boolean): Column = {
    require(width >= 1, s"shingle width must be >= 1, got $width")
    Kernel(this, "make", ArrayType(StringType, containsNull = false),
      Seq(ArrayType(StringType), IntegerType, BooleanType))(
      c, lit(width), lit(distinct))
  }

  /** Column-level entry point: `shingles($"tokens", 3)` (distinct). */
  def shingles(c: Column, width: Int): Column = kernel(c, width, distinct = true)

  /** All windows with multiplicity: `shinglesAll($"tokens", 2)`. */
  def shinglesAll(c: Column, width: Int): Column = kernel(c, width, distinct = false)
}
