package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi segmentation of one word under a unigram LM (Kudo 2018,
  * SentencePiece §3.2 with the hard-EM/Viterbi E-step): among all
  * segmentations of `word` into pieces of length ≤ 4, return the one
  * maximizing the sum of the pieces' integer log-scores — the
  * vocabulary-compressed inner loop of the unigram tokenizer trainer
  * (q_unigram_train) and the segmentation the trained model publishes
  * for encoding.
  *
  * Inputs are two ALIGNED arrays — the candidate pieces of THIS word
  * (its distinct substrings, ≤ 16·4 entries) and their scores
  * (log2e20(count) − log2e20(total), always negative) — so the
  * [[Kernel]] is self-contained per row: no shared state, safe
  * anywhere in a plan. DP over end positions j = 1..|w|:
  * dp[j] = max over k = 1..min(4, j) of dp[j−k] + score(w[j−k..j]),
  * candidates missing from the vocabulary are skipped; ties pick the
  * SMALLEST k (strict `>` replacement while k ascends) — the single
  * deterministic rule the DuckDB oracle reproduces with an identical
  * CASE ladder. Backtrace yields the piece sequence.
  *
  * The caller must guarantee segmentability (every single character of
  * `word` present in the piece array — true by construction for the
  * trainer's seed vocabulary); an unreachable position throws rather
  * than degrading silently.
  */
object UnigramViterbi {

  /** Called from generated code. Words are tiny (≤ 16 chars by the
    * trainer's contract) — a per-row HashMap over ≤ 64 candidate
    * pieces and an O(|w|·4) DP dominate nothing.
    */
  def make(word: UTF8String, pieces: ArrayData, scores: ArrayData): ArrayData = {
    val w = word.toString
    val np = pieces.numElements()
    require(np == scores.numElements(),
      s"unigram_viterbi: ${np} pieces vs ${scores.numElements()} scores")
    val m = new java.util.HashMap[String, java.lang.Long](np * 2)
    var i = 0
    while (i < np) {
      if (pieces.isNullAt(i) || scores.isNullAt(i))
        throw new IllegalArgumentException(
          "unigram_viterbi: null piece/score — arrays must be null-free")
      m.put(pieces.getUTF8String(i).toString, scores.getLong(i))
      i += 1
    }
    val n = w.length
    val dp = new Array[Long](n + 1)
    val bk = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var best = Long.MinValue
      var bestK = 0
      var k = 1
      val kMax = math.min(4, j)
      while (k <= kMax) {
        val sc = m.get(w.substring(j - k, j))
        // strict > while k ascends: equal-value ties keep the smallest k
        if (sc != null && dp(j - k) != Long.MinValue &&
            dp(j - k) + sc.longValue > best) {
          best = dp(j - k) + sc.longValue
          bestK = k
        }
        k += 1
      }
      if (bestK == 0)
        throw new IllegalArgumentException(
          s"unigram_viterbi: position $j of '$w' unreachable — vocabulary " +
            "must contain every single character of the word")
      dp(j) = best
      bk(j) = bestK
      j += 1
    }
    val out = new java.util.ArrayList[Any]()
    var p = n
    while (p > 0) {
      out.add(0, UTF8String.fromString(w.substring(p - bk(p), p)))
      p -= bk(p)
    }
    new GenericArrayData(out.toArray)
  }

  def unigramViterbi(word: Column, pieces: Column, scores: Column): Column =
    Kernel(this, "make", ArrayType(StringType, containsNull = false),
      Seq(StringType, ArrayType(StringType), ArrayType(LongType)))(
      word, pieces, scores)
}
