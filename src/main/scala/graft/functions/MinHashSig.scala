package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** MinHash(8) signature of one document: the 8 mins of the affine
  * permutation family g_i(h) = (a_i·h + b_i) mod p over the 32-bit md5
  * prefix h = u >>> 32 of each window digest `u` (the array
  * [[Md5Ops.shingleMd5U64s]] returns). Null for an empty array, so a
  * doc too short to shingle yields no signature.
  *
  * The one signature kernel of the near-dup family. It is a [[Kernel]]
  * with one fused loop because the two DataFrame forms it
  * replaces each paid for the signature twice over: a groupBy over
  * exploded (doc, window) rows shuffles every window, and eight
  * `array_min(transform(...))` folds are higher-order functions, which
  * get no codegen subexpression elimination, so each of the eight
  * re-inlined the md5 digest (3× slower, measured at sf0.1). Min
  * ignores duplicates, so all windows and distinct windows give the
  * same signature.
  */
object MinHashSig {

  /** p = 2^31−1 (prime); a_i < 2^30 so a_i·h < 2^62 fits a signed
    * 64-bit long in both engines (the DuckDB oracle reproduces the same
    * arithmetic). Arbitrary fixed odd constants. */
  val MinhashP = 2147483647L
  val MinhashA = Seq(529959061L, 726648389L, 171676003L, 913871213L,
    330279721L, 464937097L, 604389403L, 247615843L)
  val MinhashB = Seq(117767609L, 326150957L, 892849843L, 503800931L,
    78126601L, 645859441L, 287709941L, 735603829L)

  private val A = MinhashA.toArray
  private val B = MinhashB.toArray

  /** Called from generated code. */
  def sig(us: ArrayData): ArrayData = {
    val n = us.numElements()
    if (n == 0) return null
    val m = Array.fill(A.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = us.getLong(i) >>> 32
      var j = 0
      while (j < A.length) {
        val g = (A(j) * h + B(j)) % MinhashP
        if (g < m(j)) m(j) = g
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(m)
  }

  /** Column entry point: `minHashSig(shingleMd5U64s(tokens, 3))`. */
  def minHashSig(c: Column): Column =
    Kernel(this, "sig", ArrayType(LongType, containsNull = false),
      Seq(ArrayType(LongType)), returnNullable = true)(c)
}
