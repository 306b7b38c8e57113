package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Text canonicalization before shingling/hashing — the CCNet/Gopher
  * normalize-then-hash step (Wenzek et al. 2020 §3.1; Rae et al. 2021
  * A.1.1): near-duplicates that differ only in case, punctuation, digit
  * literals, or whitespace must hash to the SAME shingles, or every
  * Jaccard/MinHash/SimHash pass in the dedup battery is blind to them.
  *
  * THE EXACT RULE, applied in this order (the order is observable —
  * punctuation stripping runs before digit folding, so `1.2` folds to
  * `0`, not `0.0`):
  *   1. ASCII lowercase: bytes `A`-`Z` → `a`-`z`. (Deliberately NOT
  *      Unicode case folding: that is locale-fraught — the Turkish
  *      dotted-İ problem — and engine-divergent; bytes ≥ 0x80 pass
  *      through untouched, so multi-byte UTF-8 sequences survive
  *      verbatim and oracle parity is exact for any ASCII corpus.)
  *   2. Strip ASCII punctuation (the `[[:punct:]]` set: 0x21-0x2f,
  *      0x3a-0x40, 0x5b-0x60, 0x7b-0x7e). A stripped byte does NOT
  *      break a digit run (rule 3 sees the post-strip string).
  *   3. Fold digit runs: every maximal run of `0`-`9` → the single
  *      byte `0` ("version 2" and "version 15" become one shingle).
  *   4. Collapse whitespace (`[[:space:]]`: 0x09-0x0d, 0x20) runs to
  *      one space and trim both ends.
  *
  * Equivalent (and spec-pinned against)
  *   `trim(regexp_replace(regexp_replace(regexp_replace(lower(s),
  *      '[[:punct:]]', ''), '[0-9]+', '0'), '[[:space:]]+', ' '))`
  * on ASCII input — the DuckDB oracle twins spell step 1 as
  * `translate(s, 'A..Z', 'a..z')`, NOT `lower(s)`, because DuckDB's
  * lower() silently Unicode-case-folds and would drift from this
  * byte pass on any non-ASCII corpus (caught r15 by a planted
  * unicode fixture). Implemented as ONE byte pass, a codegen'd
  * [[Kernel]]: the regex chain allocates three intermediate strings and
  * re-scans the document four times; normalization runs once per
  * document per corpus scan at 100 TB and must stay inside
  * WholeStageCodegen with the split/shingle stage it feeds.
  */
object NormalizeText {

  private def isPunct(c: Byte): Boolean =
    (c >= 0x21 && c <= 0x2f) || (c >= 0x3a && c <= 0x40) ||
    (c >= 0x5b && c <= 0x60) || (c >= 0x7b && c <= 0x7e)

  private def isSpace(c: Byte): Boolean =
    (c >= 0x09 && c <= 0x0d) || c == 0x20

  /** Called from generated code. One pass; out-length ≤ in-length
    * always (every rule deletes or 1:1-maps bytes), so a single output
    * buffer of the input size suffices.
    */
  def make(s: UTF8String): UTF8String = {
    val b = s.getBytes
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingSpace = false
    var inDigitRun = false
    var i = 0
    while (i < b.length) {
      var c = b(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if (isPunct(c)) {
        // stripped; digit-run and pending-space state unchanged (strip
        // precedes fold: "1.2" is one run, "1 .2" stays two tokens)
      } else if (isSpace(c)) {
        pendingSpace = true
        inDigitRun = false
      } else if (c >= '0' && c <= '9') {
        if (!inDigitRun) {
          if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
          pendingSpace = false
          out(n) = '0'; n += 1
          inDigitRun = true
        }
      } else {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = c; n += 1
        inDigitRun = false
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, n))
  }

  /** Unicode-mode category test: strip all Unicode punctuation AND
    * symbols (categories P* ∪ S*) — the superset matching the ASCII
    * rule, whose `[[:punct:]]` set mixes ASCII P and S characters. */
  private def isPunctOrSymbol(t: Int): Boolean = t match {
    case Character.CONNECTOR_PUNCTUATION | Character.DASH_PUNCTUATION |
         Character.START_PUNCTUATION | Character.END_PUNCTUATION |
         Character.INITIAL_QUOTE_PUNCTUATION | Character.FINAL_QUOTE_PUNCTUATION |
         Character.OTHER_PUNCTUATION | Character.MATH_SYMBOL |
         Character.CURRENCY_SYMBOL | Character.MODIFIER_SYMBOL |
         Character.OTHER_SYMBOL => true
    case _ => false
  }

  /** Unicode mode (r12 verdict #3 — documented OPT-IN; the default
    * byte-pass stays the engine's normalization). Same four rules, same
    * order, per CODE POINT instead of per ASCII byte:
    *   1. lowercase via `Character.toLowerCase(int)` — the Unicode
    *      1:1 simple mapping, locale-INdependent by contract (it is
    *      the locale-sensitive String.toLowerCase that has the
    *      Turkish-İ problem; here İ U+0130 → plain `i`, Σ → σ, etc.);
    *   2. strip category P* ∪ S* (em/en dashes, smart quotes,
    *      fullwidth punctuation, €/¥/≠/°…); NOTE: No/Nl number forms
    *      (² ½ Ⅷ) are neither punctuation nor Nd digits and pass
    *      through, lowercased only;
    *   3. fold maximal runs of Nd digits (isDigit: ASCII, Arabic-Indic,
    *      Devanagari…) to a single '0' — a stripped char still does
    *      not break a run;
    *   4. collapse isWhitespace ∪ isSpaceChar runs (NBSP, em/en/thin
    *      spaces, ideographic space — isWhitespace alone misses NBSP)
    *      to one ' ' and trim.
    * On pure-ASCII input this agrees byte-for-byte with [[make]]
    * (spec-pinned over the sf0.001 corpus), so a corpus can opt in
    * without re-deriving its ASCII dedup state. Allocation cost
    * (decode + StringBuilder — lowercase can GROW a code point's UTF-8
    * encoding, e.g. Ⱥ U+023A 2 bytes → ⱥ U+2C65 3 bytes, so the
    * fixed-buffer trick of the byte pass is unsound here) is the
    * documented price of the mode; it remains one pass inside codegen.
    */
  def makeUnicode(s: UTF8String): UTF8String = {
    val in = s.toString
    val out = new java.lang.StringBuilder(in.length)
    var pendingSpace = false
    var inDigitRun = false
    var i = 0
    while (i < in.length) {
      var cp = in.codePointAt(i)
      i += Character.charCount(cp)
      cp = Character.toLowerCase(cp)
      if (isPunctOrSymbol(Character.getType(cp))) {
        // stripped; digit-run and pending-space state unchanged
      } else if (Character.isWhitespace(cp) || Character.isSpaceChar(cp)) {
        pendingSpace = true
        inDigitRun = false
      } else if (Character.isDigit(cp)) {
        if (!inDigitRun) {
          if (pendingSpace && out.length > 0) out.append(' ')
          pendingSpace = false
          out.append('0')
          inDigitRun = true
        }
      } else {
        if (pendingSpace && out.length > 0) out.append(' ')
        pendingSpace = false
        out.appendCodePoint(cp)
        inDigitRun = false
      }
    }
    UTF8String.fromString(out.toString)
  }

  /** Column-level entry point: `normalizeText($"text")`. */
  def normalizeText(c: Column): Column =
    Kernel(this, "make", StringType, Seq(StringType))(c)

  /** Unicode-mode entry point: `normalizeTextUnicode($"text")`. */
  def normalizeTextUnicode(c: Column): Column =
    Kernel(this, "makeUnicode", StringType, Seq(StringType))(c)
}
