package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The codegen'd kernels of the WordPiece tokenizer family
  * (Schuster & Nakajima 2012; the BERT tokenizer) — the third
  * tokenizer family next to BPE ([[BpeApply]]) and unigram-LM
  * ([[UnigramViterbi]]).
  *
  * WordPiece differs from BPE in BOTH halves:
  *  - training merges the pair maximizing LIKELIHOOD GAIN
  *    count(t1 t2) / (count(t1) · count(t2)), not raw pair count, and
  *    tokens carry the `##` continuation prefix (merging `a` + `##b`
  *    yields `ab`, `##a` + `##b` yields `##ab`) — so the merge-apply
  *    needs the merged token as an explicit constant
  *    ([[mergeApply]]; [[BpeApply]] hardcodes t1 ++ t2);
  *  - encoding is greedy LONGEST-MATCH-FIRST against the shipped
  *    vocabulary ([[matchWord]]), not a replay of the merges —
  *    the segmentation BERT's runtime actually produces, which can
  *    legitimately differ from the training segmentation of the same
  *    word.
  */
object WordPieceOps {

  /** The whole-word out-of-vocabulary token (BERT's `[UNK]`). Square
    * brackets never appear in whitespace-tokenized corpus words, so
    * the sentinel cannot collide with a real piece. */
  val Unk = "[UNK]"

  /** One WordPiece merge applied to a token sequence: every
    * left-to-right non-overlapping adjacent `(t1, t2)` becomes the
    * single token `merged` (= t1 ++ t2 with t2's `##` prefix
    * dropped — the caller computes it once per round). Greedy
    * non-overlap and the produced-token-never-re-merges invariant are
    * exactly [[BpeApply]]'s: `merged` ≠ `t1` (t2 minus `##` is
    * non-empty), so the scan resuming after a consumed pair can never
    * re-match the token it just emitted.
    *
    * Called from generated code. Same null-element contract as
    * [[BpeApply.make]]: split() output only, throw loudly. */
  def mergeApply(arr: ArrayData, t1: UTF8String, t2: UTF8String,
      merged: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"wp_merge: null token at index $i — input must be array<string> " +
            "with no null elements (split() output)")
      if (i + 1 < n && !arr.isNullAt(i + 1) &&
          arr.getUTF8String(i) == t1 && arr.getUTF8String(i + 1) == t2) {
        out.add(merged)
        i += 2
      } else {
        out.add(arr.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  private val UnkArray: ArrayData =
    new GenericArrayData(Array[Any](UTF8String.fromString(Unk)))

  /** Greedy longest-match-first WordPiece encode of one word (BERT's
    * `WordpieceTokenizer`): starting at position 0, take the LONGEST
    * vocabulary piece matching at the cursor — a bare piece at
    * position 0, a `##`-prefixed piece after it — emit it, advance;
    * if NO piece matches at some position the WHOLE word becomes the
    * single `[UNK]` token (BERT's whole-word failure rule, not a
    * partial fallback).
    *
    * `pieces` is this word's candidate set — the vocabulary entries
    * that occur in the word, pre-filtered by a vocab-sized equi-join
    * (the [[UnigramViterbi]] aligned-array pattern) — so the kernel is
    * self-contained per row. Word lengths are whitespace-token sized;
    * the O(|w|²) probe loop is branch-predictable and allocation-free
    * until the output build. Called from generated code.
    */
  def matchWord(word: UTF8String, pieces: ArrayData): ArrayData = {
    val np = pieces.numElements()
    val set = new java.util.HashSet[String](np * 2)
    var i = 0
    while (i < np) {
      if (pieces.isNullAt(i))
        throw new IllegalArgumentException(
          "wp_match: null piece — candidate array must be null-free")
      set.add(pieces.getUTF8String(i).toString)
      i += 1
    }
    matchIn(word.toString, set, Integer.MAX_VALUE)
  }

  /** The greedy longest-match-first walk against a piece set — shared
    * by [[matchWord]] (per-row candidate array) and
    * [[WordPieceMatchVocab]] (one shared vocabulary set). `maxK` caps
    * the probe length at the longest piece in the set (probes above it
    * cannot hit; `Integer.MAX_VALUE` = uncapped, the matchWord
    * behavior — results are identical either way). Called from
    * generated code. */
  def matchIn(w: String, set: java.util.HashSet[String], maxK: Int)
      : ArrayData = {
    val n = w.length
    // empty word = complete 0-piece segmentation (parity with the
    // DuckDB wpwalk oracle and the TextSpec replica, which both treat
    // '' as already fully segmented — NOT as an unknown token)
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](4)
    var pos = 0
    while (pos < n) {
      var k = math.min(n - pos, maxK)
      var hit: String = null
      while (k >= 1 && hit == null) {
        val cand =
          if (pos == 0) w.substring(0, k) else "##" + w.substring(pos, pos + k)
        if (set.contains(cand)) hit = cand else k -= 1
      }
      if (hit == null) return UnkArray
      out.add(UTF8String.fromString(hit))
      pos += k
    }
    new GenericArrayData(out.toArray)
  }

  /** [[matchWord]] with the vocabulary as a CONSTANT: the shipped
    * piece set is charset-bounded (initial alphabet + the merge-table
    * pieces), never corpus-sized, so the longest-match kernel can probe
    * ONE shared hash set instead of a per-word candidate array — which
    * removes the candidate-substring explode, its distinct, the vocab
    * equi-join and the per-word collect_list from the encode plan
    * (r18). The set is built once per executor (lazy, transient);
    * results are identical to [[matchWord]] because a piece
    * matching at a cursor of w is found in either representation.
    * Hand-written: it captures the driver-built vocabulary set.
    */
  case class WordPieceMatchVocab(child: Expression, vocab: Seq[String])
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"wp_match_vocab expects string, got $t")
      }

    @transient private lazy val set: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](vocab.size * 2)
      vocab.foreach(s.add)
      s
    }
    // the longest piece bounds every useful probe; continuations carry
    // the 2-char ## prefix but capping at the raw max is still sound
    // (an over-long probe's piece string exceeds every vocab length)
    @transient private lazy val maxK: Int =
      if (vocab.isEmpty) 0 else vocab.iterator.map(_.length).max

    override protected def nullSafeEval(w: Any): Any =
      WordPieceOps.matchIn(w.asInstanceOf[UTF8String].toString, set, maxK)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // raw HashSet: Janino's generics support is partial, and the
      // unchecked call is exactly what javac would erase to anyway
      val setRef = ctx.addReferenceObj("wpVocabSet", set, "java.util.HashSet")
      val maxKVal = ctx.addReferenceObj("wpVocabMaxK", Integer.valueOf(maxK),
        "java.lang.Integer")
      nullSafeCodeGen(ctx, ev, w =>
        s"${ev.value} = graft.functions.WordPieceOps.matchIn(" +
          s"$w.toString(), $setRef, $maxKVal.intValue());")
    }

    override protected def withNewChildInternal(c: Expression)
        : WordPieceMatchVocab = copy(child = c)
  }

  /** Column-level entry points. */
  def wpMerge(c: Column, t1: String, t2: String, merged: String): Column =
    Kernel(this, "mergeApply", ArrayType(StringType, containsNull = false),
      Seq(ArrayType(StringType), StringType, StringType, StringType))(
      c, lit(t1), lit(t2), lit(merged))

  def wpMatch(w: Column, pieces: Column): Column =
    Kernel(this, "matchWord", ArrayType(StringType, containsNull = false),
      Seq(StringType, ArrayType(StringType)))(w, pieces)

  def wpMatchVocab(w: Column, vocab: Seq[String]): Column =
    GraftBridge.column(WordPieceMatchVocab(GraftBridge.expression(w), vocab))
}
