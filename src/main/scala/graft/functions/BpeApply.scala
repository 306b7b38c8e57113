package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One BPE merge applied to a token sequence — the APPLY half of a
  * tokenizer-training round (Sennrich et al. 2016): every left-to-right
  * non-overlapping occurrence of the adjacent pair `(t1, t2)` becomes
  * the single token `t1 ++ t2`. Greedy non-overlap is the observable
  * rule: `[a a a]` with pair `(a, a)` merges once (→ `[aa a]`),
  * `[a a a a]` twice (→ `[aa aa]`); a token PRODUCED by this round's
  * merge is never itself the left or right side of another merge in the
  * same round (scan resumes after the consumed pair).
  *
  * `t1`/`t2` are per-round model constants (the argmax pair the driver
  * just fetched), passed as string literals like [[Shingles]]' width,
  * so the [[Kernel]] scan is a branch-predictable token-equality loop
  * inside WholeStageCodegen.
  * q_bpe_train runs this once per round over the word-frequency table —
  * vocabulary-sized, the corpus compression that makes BPE training
  * feasible at 100 TB.
  */
object BpeApply {

  /** Called from generated code. The declared contract is split()
    * output — array<string> with NO null elements (dataType says
    * containsNull=false) — so a null element is a caller bug, and the
    * r12 behavior of silently rewriting it to "" corrupted tokens
    * instead of failing (r12 ADVICE). Throw loudly.
    */
  def make(arr: ArrayData, t1: UTF8String, t2: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"bpe_apply: null token at index $i — input must be array<string> " +
            "with no null elements (split() output)")
      if (i + 1 < n && !arr.isNullAt(i + 1) &&
          arr.getUTF8String(i) == t1 && arr.getUTF8String(i + 1) == t2) {
        out.add(UTF8String.concat(t1, t2))
        i += 2
      } else {
        out.add(arr.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Column-level entry point: `bpeApply($"toks", "a", "b")`. */
  def bpeApply(c: Column, t1: String, t2: String): Column =
    Kernel(this, "make", ArrayType(StringType, containsNull = false),
      Seq(ArrayType(StringType), StringType, StringType))(c, lit(t1), lit(t2))
}
