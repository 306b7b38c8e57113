package graft.queries

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Md5Ops

/** Deterministic planted NATURAL-TEXT fixtures unioned into the
  * learned/rule-based text rows (r15 verdict #4): the shipped corpus's
  * text is synthetic (all-English tokens under non-English lang
  * labels, no stopwords in most docs), so q_langid_apply's confusion
  * matrix collapsed to the majority prior and q_gopher_rules' funnel
  * rejected everything on one rule — honest, but the driver's green
  * row was then only evidence of cross-engine AGREEMENT, not of the
  * operator discriminating. These rows (negative doc_ids / dedicated
  * lang codes / dedicated sources — disjoint from every corpus at
  * every sf) ride along in BOTH engines, built from this one seq (the
  * MmFixture rule: oracle literals generated from the same constant,
  * zero drift), so the oracle-checked row itself now shows diagonal
  * dominance on the planted langs and a mixed per-rule funnel on the
  * planted sources.
  */
object TextFixture {

  /** Per-lang DISJOINT token vocabularies — text genuinely determines
    * lang for the planted docs. Lang codes disjoint from the corpus's
    * {en,de,zh,fr,es}.
    */
  val langIdLangs: Seq[String] = Seq("xx_a", "xx_b", "xx_c", "xx_d")

  /** 4 langs × 12 docs × 36 tokens rotated through the lang's 6-token
    * vocabulary: (doc_id, text, lang). The ×6 multiplicity matters:
    * the planted class's score on its own docs grows ~quadratically in
    * the per-doc token count (weight ∝ gradient ∝ c, score ∝ c·w)
    * while a corpus class's score on those docs grows only linearly
    * (its weights are set by the corpus, reached via hash collisions)
    * — at ×1 multiplicity two of the four langs lost the argmax to
    * 'en' at sf0.01.
    */
  val langIdDocs: Seq[(Long, String, String)] = for {
    (l, li) <- langIdLangs.zipWithIndex
    k <- 0 until 12
  } yield (-(201L + li * 12 + k),
    (0 until 36).map(j => s"${l.replace("_", "")}w${(k + j) % 6}")
      .mkString(" "),
    l)

  /** Content hash of the planted langid rows — folded into the
    * [[CorpusTable]] materialization prefix so a fixture change busts
    * the cached model (the corpus-file key alone cannot see it).
    */
  val langIdKey: String = java.security.MessageDigest.getInstance("MD5")
    .digest(langIdDocs.mkString("").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString.take(8)

  /** The langid planted rows as a SQL relation (doc_id, text, lang),
    * generated from [[langIdDocs]] itself.
    */
  val langIdSqlRows: String = langIdDocs.map { case (id, text, lang) =>
    s"SELECT CAST($id AS BIGINT) AS doc_id, '$text' AS text, '$lang' AS lang"
  }.mkString("\n  UNION ALL ")

  private def words(n: Int, base: Seq[String]): String =
    (0 until n).map(i => base(i % base.size)).mkString(" ")

  private val GoodWords = Seq("the", "quick", "brown", "fox", "jumps",
    "over", "that", "lazy", "dog", "with", "great", "energy", "and",
    "vigor")

  /** Gopher planted docs, (text, source): three natural-English docs
    * that pass all seven rules under `planted_pass`, plus one doc per
    * rule failing exactly that rule under its own `planted_<rule>`
    * source — so the declared per-source funnel is LIVE: mixed rule
    * failures and a non-trivial pass rate in the driver's oracle run
    * (the TextSpec planted set promoted into the shipped row).
    */
  val gopherDocs: Seq[(String, String)] = Seq(
    ("planted_pass", words(60, GoodWords)),
    ("planted_pass", words(72, GoodWords.reverse)),
    ("planted_pass", words(55, GoodWords.drop(3) ++ GoodWords.take(3))),
    // < 50 words, everything else clean
    ("planted_wc", words(20, GoodWords)),
    // mean word length ~2 < 3; stopwords via 'the'/'and'
    ("planted_mwl", words(48, Seq("ab")) + " the and"),
    // >10% symbol chars; the symbol token is 1 of 61 words (alpha ok)
    ("planted_sym", words(60, GoodWords) + " ##########"),
    // every line starts with a bullet
    ("planted_bullet",
      (1 to 4).map(_ => "- " + words(15, GoodWords)).mkString("\n")),
    // every line ends with an ellipsis
    ("planted_ell",
      (1 to 4).map(_ => words(15, GoodWords) + " more...").mkString("\n")),
    // 15 of 63 words numeric -> alphabetic fraction 0.76 < 0.8
    ("planted_alpha",
      words(48, GoodWords) + " " + words(15, Seq("123", "456"))),
    // zero stopwords, everything else clean
    ("planted_stop",
      words(60, Seq("zebra", "lion", "tiger", "eagle", "shark"))))

  /** The gopher planted rows as a SQL relation (source, text) —
    * newlines carried as chr(10) concatenation so the literal is
    * byte-identical to the Scala string in every JSON/driver hop.
    */
  val gopherSqlRows: String = gopherDocs.map { case (src, text) =>
    val lit = "'" + text.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"
    s"SELECT '$src' AS source, $lit AS text"
  }.mkString("\n  UNION ALL ")

  // ------------------------------------------------------------------
  // Quality-classifier fixture (r17, r16 verdict #4): the synthetic
  // corpus scores near-uniformly under the fixed hashed-feature
  // weights, so q_quality_classifier's keep-rate spread and
  // q_quality_calibration's reliability diagram were degenerate.
  // These docs are built from tokens CHOSEN BY THEIR WEIGHT under the
  // exact q_feature_hash scheme (md5 dims → md5 weights — replicated
  // here, deterministic), so the driver's oracle rows show live
  // discrimination: an all-positive-token source keeps everything, an
  // all-negative one keeps nothing, and a 21-doc mixing ramp sweeps
  // the score (and the predicted probability) through its range.

  // md5Prefix(x, 15) on the driver is the same kernel: u64 >>> 4 (≥ 0)
  private def qcDimOf(t: String): Int =
    ((Md5Ops.u64(UTF8String.fromString(t)) >>> 4) % 256L).toInt
  private def qcWeightOf(d: Int): Long =
    (Md5Ops.u64(UTF8String.fromString("qw" + d)) >>> 4) % 200001L - 100000L

  /** 8 tokens with strongly POSITIVE weight and 8 strongly NEGATIVE,
    * scanned deterministically from the `qcw<i>` candidate family.
    */
  private val (qcPosToks, qcNegToks) = {
    val cands = Iterator.from(0).map(i => s"qcw$i")
      .map(t => t -> qcWeightOf(qcDimOf(t)))
    val pos = Seq.newBuilder[String]
    val neg = Seq.newBuilder[String]
    var nPos = 0
    var nNeg = 0
    while (nPos < 8 || nNeg < 8) {
      val (t, w) = cands.next()
      if (w > 60000L && nPos < 8) { pos += t; nPos += 1 }
      if (w < -60000L && nNeg < 8) { neg += t; nNeg += 1 }
    }
    (pos.result(), neg.result())
  }

  /** (doc_id, text, source): 4 high-quality docs, 4 low-quality docs,
    * and a 21-doc ramp mixing m ∈ [0, 20] positive tokens of 20.
    */
  val qcDocs: Seq[(Long, String, String)] = {
    def doc(m: Int): String =
      ((0 until m).map(i => qcPosToks(i % 8)) ++
        (0 until (20 - m)).map(i => qcNegToks(i % 8))).mkString(" ")
    (0 until 4).map(k => (-(301L + k), doc(20), "planted_qc_good")) ++
      (0 until 4).map(k => (-(311L + k), doc(0), "planted_qc_bad")) ++
      (0 to 20).map(m => (-(321L + m), doc(m), "planted_qc_mix"))
  }

  /** Content hash of the qc planted rows (cache-key folding, the
    * q_langid_train staleness lesson — kept for any future
    * materialized consumer).
    */
  val qcKey: String = java.security.MessageDigest.getInstance("MD5")
    .digest(qcDocs.mkString("").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString.take(8)

  /** The qc planted rows as a SQL relation (doc_id, text, source). */
  val qcSqlRows: String = qcDocs.map { case (id, text, src) =>
    s"SELECT CAST($id AS BIGINT) AS doc_id, '$text' AS text, '$src' AS source"
  }.mkString("\n  UNION ALL ")

  // ------------------------------------------------------------------
  // DSIR fixture (r17, r16 verdict #4): the corpus's text is
  // lang-independent, so the 'en' target slice ≈ the raw corpus and
  // every importance weight collapsed near 0 (the 25% quota then
  // over-selects arbitrarily). Planted: a TARGET-VOCABULARY slice
  // labeled 'en' and a raw-only slice under a dedicated lang — the
  // bucket model then carries a genuine t/r ratio, the driver's
  // q_dsir row shows a live logw spread, and q_dsir_eval a live KL
  // improvement.

  /** (doc_id, text, lang, source): 12 target-vocab docs (lang 'en') +
    * 12 raw-only-vocab docs (dedicated lang), dedicated sources.
    */
  val dsirDocs: Seq[(Long, String, String, String)] = {
    def doc(prefix: String, k: Int): String =
      (0 until 36).map(j => s"$prefix${(k + j) % 6}").mkString(" ")
    (0 until 12).map(k =>
      (-(401L + k), doc("dsA", k), "en", "planted_dsir_t")) ++
      (0 until 12).map(k =>
        (-(421L + k), doc("dsB", k), "xx_r", "planted_dsir_r"))
  }

  /** Content hash of the dsir planted rows — folded into the
    * dsirBuckets CorpusTable prefix (the staleness lesson).
    */
  val dsirKey: String = java.security.MessageDigest.getInstance("MD5")
    .digest(dsirDocs.mkString("").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString.take(8)

  /** The dsir planted rows as a SQL relation
    * (doc_id, text, lang, source).
    */
  val dsirSqlRows: String = dsirDocs.map { case (id, text, lang, src) =>
    s"SELECT CAST($id AS BIGINT) AS doc_id, '$text' AS text, " +
      s"'$lang' AS lang, '$src' AS source"
  }.mkString("\n  UNION ALL ")
}
