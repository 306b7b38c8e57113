package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
// Exact long division (Catalyst IntegralDivide, never double `/`):
// every caller's operands are non-negative, so truncation is the floor.
import graft.functions.ExactMath.{ceilDiv, divTrunc}
import graft.functions.SimHash64.simHash64

/** Batch 6 ★ — near-duplicate detection over `documents`: n-gram
  * Jaccard via an inverted shingle index, MinHash + LSH banding, and
  * SimHash Hamming-band dedup. The dedup legs of a training-data
  * pipeline (north-star scope; the reference itself has no dedup —
  * SURVEY.md §2 "absent" list).
  *
  * Scale design (the part that must survive 100 TB):
  *  - NEVER a cross join: candidate pairs always come from an
  *    equi-join on a derived key (shingle hash, LSH band, SimHash
  *    band), so Spark plans a shuffled hash join on that key;
  *  - shingle sets are deduped per document BEFORE the join
  *    (array_distinct in the explode), so a repeated phrase can't
  *    quadratically blow up the pair counts;
  *  - shingle identity is a 60-bit md5 prefix held as a LONG: every
  *    downstream aggregation (min for MinHash, count for Jaccard) runs
  *    on 8-byte hash-aggregable buffers (`min(string)` would fall back
  *    to SortAggregate — a full sort of the exploded shingle set), and
  *    the pair join shuffles longs, not shingle text;
  *  - only per-DOC frames (sorted hash sets — corpus-linear) are
  *    ever persisted; the quadratic pair stream is never materialized;
  *  - exhaustive Jaccard uses prefix+position filtering (PPJoin), so
  *    hot shingles never enter the candidate join; MinHash reduces each
  *    document to a constant-size signature (8 mins, one per-row kernel)
  *    and banding makes the candidate join key selective — the full
  *    Jaccard verify runs only on candidates.
  *
  * Oracle equivalence: the 60-bit prefix of md5 as a long (Spark) and
  * the 15-hex-char prefix as a string (DuckDB) are order-isomorphic
  * (fixed-length lowercase hex sorts numerically), so mins, equalities
  * and therefore the selected pairs are engine-identical.
  */
object DedupQueries {

  /** 60-bit shingle identity: md5 hex prefix as a long. r15: computed
    * from the raw digest bytes ([[graft.functions.Md5Ops.md5Prefix]] —
    * bit-identical to the historical conv(substring(md5,1,15),16,10)
    * chain and to the oracle's ('0x'||…)::BIGINT, minus the per-row
    * hex-string/substring/conv allocations that drove the gen-sf10 GC
    * pauses, PERF_NOTES r14). */
  private def hash60(c: Column): Column =
    graft.functions.Md5Ops.md5Prefix(c, 15)

  /** Winnowed fingerprint selections (doc_id, i, mk) over a documents
    * frame — the q_winnow kernel (Schleimer et al. 2003; see that
    * query's scaladoc for the k=5/w=4 parameters and the folded
    * rightmost-tie key mk = (h mod 2⁴⁰)·2²⁰ + (2²⁰−1−i)), shared with
    * q_winnow_dup so the selection rule exists once. One row per
    * VALID WINDOW (i ≤ n_grams − 3); selected fingerprints are the
    * distinct mk (per doc) / distinct mk >> 20 (cross-doc hash).
    */
  private def winnowSelected(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksD = split(col("text"), " ")
    // r15: per-window md5 u64s streamed straight from the token array
    // (no 5-gram string per window — the allocation that drove the
    // gen-sf10 GC pauses on this row); u >>> 4 IS hash60 of the
    // space-joined window, bit-identical to the oracle's g CTE
    val grams = docs
      .select(col("doc_id"),
        posexplode(graft.functions.Md5Ops.shingleMd5U64s(toksD, 5))
          .as(Seq("i0", "u")))
      .select(col("doc_id"), (col("i0") + 1L).as("i"),
        (pmod(shiftrightunsigned(col("u"), 4), lit(1L << 40)) * (1L << 20)
          + (lit((1L << 20) - 1L) - col("i0") - 1L)).as("key"))
    val w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
    val cw = Window.partitionBy("doc_id")
    grams
      .withColumn("ng", count(lit(1)).over(cw))
      .withColumn("mk", min("key").over(w))
      .filter(col("i") <= col("ng") - 3L)
      .select(col("doc_id"), col("i"), col("mk"))
  }

  /** DuckDB twin of [[winnowSelected]] — ONE copy of the winnow CTE
    * chain (the CcSql rule), shared by the q_winnow and q_winnow_dup
    * oracles. Ends in `sel(doc_id, i, ng, mk)`; valid windows are
    * `WHERE i <= ng - 3`.
    */
  private val WinnowSql: String =
    """t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |g0 AS (
      |  SELECT doc_id, unnest(range(1, len(ts) - 3)) AS i, ts
      |  FROM t WHERE len(ts) >= 5),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    CAST(len(ts) - 4 AS BIGINT) AS ng,
      |    (('0x' || substring(md5(array_to_string(ts[i:i+4], ' ')), 1, 15))
      |       ::BIGINT % 1099511627776) * 1048576
      |      + (1048575 - i) AS key
      |  FROM g0),
      |sel AS (
      |  SELECT doc_id, i, ng,
      |    min(key) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
      |  FROM g)""".stripMargin

  /** Paragraph-chunk relation (doc_id, ok, chunk, n_toks, h) over a
    * documents frame — the CCNet stage-1 unit SHARED by
    * q_paragraph_dedup (profile), q_paragraph_apply (reconstruction)
    * and pipeline_e2e (composed stage), so the three can never
    * disagree on what a paragraph is. 12-token non-overlapping chunks
    * (this fixture's text is single-line; a newline-delimited corpus
    * swaps split(text, '\n\n') into this one spot); ok = doc_id·2²⁰ +
    * pid is the folded (doc, position) lexmin key (headroom:
    * pid < 2²⁰ paragraphs/doc, doc_id < 2⁴³); h is the 60-bit md5
    * chunk identity. Corpus-linear: ≤⌈n/12⌉ rows per doc.
    */
  private def paraChunks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .withColumn("start",
        explode(sequence(lit(0), size(col("ts")) - 1, lit(12))))
      .select(col("doc_id"),
        (col("doc_id") * lit(1048576L)
          + (col("start") / 12).cast("long")).as("ok"),
        concat_ws(" ", slice(col("ts"), col("start") + 1, lit(12)))
          .as("chunk"),
        size(slice(col("ts"), col("start") + 1, lit(12))).cast("long")
          .as("n_toks"),
        // h from the slice directly (md5WsPrefix hashes the same bytes
        // concat_ws would produce) so the PROFILE plan, which never
        // reads `chunk`, prunes the joined-string build entirely (r15)
        graft.functions.Md5Ops
          .md5WsPrefix(slice(col("ts"), col("start") + 1, lit(12)), 15)
          .as("h"))

  /** DuckDB twin of [[paraChunks]] plus the corpus-wide keep-first
    * owner — ONE copy of the CTE chain (the CcSql rule), shared by the
    * q_paragraph_dedup / q_paragraph_apply / pipeline_e2e oracles.
    * Ends in `pch(doc_id, ok, chunk, n_toks, h)` and `pown(h, mo)`;
    * a chunk is kept iff ok = mo.
    */
  private val ParaSql: String =
    """pt AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |pp0 AS (
      |  SELECT doc_id, ts, unnest(range(0, len(ts), 12)) AS start FROM pt),
      |pch AS (
      |  SELECT doc_id,
      |    doc_id * 1048576 + CAST(start // 12 AS BIGINT) AS ok,
      |    array_to_string(ts[start+1:start+12], ' ') AS chunk,
      |    CAST(len(ts[start+1:start+12]) AS BIGINT) AS n_toks,
      |    ('0x' || substring(md5(array_to_string(ts[start+1:start+12], ' ')),
      |      1, 15))::BIGINT AS h
      |  FROM pp0),
      |pown AS (SELECT h, MIN(ok) AS mo FROM pch GROUP BY 1)""".stripMargin

  /** doc_id + distinct 3-token shingle *text*, exploded. Codegen'd
    * [[graft.functions.Shingles]] — the interpreted HOF form
    * (`transform(sequence...)` + `slice` + `concat_ws`) measured 5.0 s
    * for this pass alone at sf0.1 and was the bulk of the "first
    * shingle query in the bench pays ~10 s" warm-up charge.
    */
  private def shingleText(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.Shingles.shingles(split(col("text"), " "), 3)).as("s"))

  /** (d1, d2, jac_e4) for pairs with Jaccard ≥ `minJacE4`/1e4, via
    * prefix filtering (Chaudhuri et al. ICDE'06 / PPJoin): shingles get
    * a global (document-frequency, hash) rank; each doc's candidate
    * prefix is its `n - ceil(t·n) + 1` RAREST shingles, and the
    * candidate join runs on prefix shingles only — lossless for pairs
    * at or above the threshold, but hot shingles (which at corpus
    * scale produce quadratically many sharing pairs) never enter the
    * join unless they are in someone's rare prefix. A length filter
    * (`t·nx ≤ ny`) prunes further; exact Jaccard verifies candidates
    * via array_intersect on the per-doc sorted hash sets. This is the
    * difference between O(pairs-sharing-any-shingle) — quadratic in df
    * — and O(pairs-sharing-a-rare-shingle).
    */
  /** Bench warm-up entry: the REAL PPJoin pair plan on a corpus slice,
    * with the same threshold literal as the declared queries — so the
    * generated code sources match (Janino cache hit) and the join/agg
    * machinery C2-compiles before any query is timed. A hand-rolled
    * "similar" warm-up join does not produce the same plan shapes and
    * left ~8-10 s of first-execution charge on whichever pair query ran
    * first (dev/PERF_NOTES.md round-4).
    */
  def warmPairs(s: SparkSession, dir: String, docs: Int): DataFrame =
    jaccardPairs(
      Tables(s, dir, "documents").limit(docs)
        .select(col("doc_id"),
          explode(graft.functions.Shingles.shingles(split(col("text"), " "), 3)).as("s")),
      minJacE4 = 6000L)

  /** `probeMinD2`: restrict the PROBE (d2) side of the prefix join to
    * doc_id ≥ the bound — the incremental-dedup shape (q_dedup_incremental):
    * the index side stays the full corpus (per-doc sets are corpus-linear,
    * at rest in production), but candidate emission and verify — the
    * quadratic-shaped stages — run only for the new batch. Lossless for
    * pairs whose LATER doc is in the batch (d1 < d2 always holds here).
    */
  /** The per-doc ranked-shingle-set frame (doc_id, n, hs, prefix) —
    * the PPJoin INDEX side: corpus-linear, the thing a production
    * incremental pipeline keeps at rest (q_dedup_incremental
    * materializes it per corpus via [[CorpusTable]]; the batch callers
    * persist it for the duration of one pair build).
    */
  private def jacSetsFrame(shText: DataFrame, minJacE4: Long): DataFrame = {
    val sh = shText.select(col("doc_id"), hash60(col("s")).as("h"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ranked"),
        count(lit(1)).as("n"))
      .withColumn("hs", expr("transform(ranked, x -> x.h)"))
      .select(col("doc_id"), col("n"), col("hs"),
        // prefix length n - ceil(t*n) + 1, exact integer e4 arithmetic
        slice(col("hs"), lit(1),
          (col("n") - ceilDiv(col("n") * minJacE4, lit(10000L)) + 1L).cast("int"))
          .as("prefix"))
  }

  /** One-shot pair build over a TRANSIENT index (the bench warm-up's
    * shape; the declared queries read the materialized [[jacSetsTable]]
    * instead). The index frame is persisted AND eagerly materialized:
    * BOTH sides of the prefix self-join consume it, and without a
    * filled cache each branch recomputes scan → explode → md5 →
    * df-join → collect_list (measured: 6 Generates, 4 scans in one
    * plan; concurrent stages race an unfilled cache, so persist alone
    * does not dedup). Per-DOC data — corpus-linear, the safe thing to
    * persist at any scale; the quadratic pair stream is never
    * materialized.
    */
  private def jaccardPairs(shText: DataFrame, minJacE4: Long): DataFrame = {
    val setsLazy = jacSetsFrame(shText, minJacE4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sets = { setsLazy.count(); setsLazy }
    pairsFromSets(sets, minJacE4, probeMinD2 = None)
  }

  /** The PPJoin candidate+verify stages over a prebuilt [[jacSetsFrame]]
    * relation — split out so q_dedup_incremental can run them against
    * the at-rest materialized index without rebuilding it.
    */
  private def pairsFromSets(sets: DataFrame, minJacE4: Long,
      probeMinD2: Option[Long]): DataFrame = {
    // explicit-N repartition on the join key: the prefix frame is
    // bytes-tiny (16-byte rows) so AQE coalesces its exchange to ~1
    // partition and the Σdf² candidate emission serializes onto one
    // core (thread-dump-confirmed at gen-sf1: 1 runnable / 31 waiting,
    // 61 s); explicit counts are exempt from coalescing, and keying by
    // h co-partitions both sides of the self-join (same finding as
    // q_mm_ahash / q_interval_join, r6 scale curve)
    val nPart = sets.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val pref = sets.select(col("doc_id"), col("n"), col("hs"),
      posexplode(col("prefix")).as(Seq("pos", "h")))
      .repartition(nPart, col("h"))
    // required overlap for jac >= t: alpha = ceil(t/(1+t) * (nx+ny))
    val alpha = ceilDiv((col("a.n") + col("b.n")) * minJacE4, lit(10000L + minJacE4))
    // incremental probe: the b side (always the LATER doc of a pair)
    // shrinks to the new batch BEFORE the join — old×old candidates
    // are never emitted, old×old verifies never run
    val prefB = probeMinD2.fold(pref)(t => pref.filter(col("doc_id") >= lit(t)))
    val cand = pref.as("a")
      .join(prefB.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: jac >= t forces t*nx <= ny (and symmetrically)
          col("b.n") * 10000L >= col("a.n") * minJacE4 &&
          col("a.n") * 10000L >= col("b.n") * minJacE4 &&
          // PPJoin position filter: elements at/after this match bound
          // the achievable overlap
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >= alpha)
      // a pair can collide on several prefix shingles — dedup BEFORE the
      // per-pair verify, and on the bare (d1, d2) long pair only: an
      // earlier cut deduped rows that carried both full hash-set arrays,
      // which made the distinct's exchange shuffle candidates × |set|
      // longs (the arrays were part of the hash key, so every candidate
      // row shipped both documents' entire shingle sets). Dedup 16-byte
      // pairs, then join the (persisted, corpus-linear) per-doc sets
      // back on — two cheap shuffles instead of one enormous one.
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("d1"), col("hs").as("hs1"), col("n").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("hs").as("hs2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("hs1"), col("hs2"))).cast("long").as("common"),
        col("n1"), col("n2"))
      .select(col("d1"), col("d2"),
        divTrunc(col("common") * 10000L, col("n1") + col("n2") - col("common"))
          .as("jac_e4"))
      .filter(col("jac_e4") >= minJacE4)
  }

  // DuckDB CTE fragments shared by both oracle queries. `s0` is the
  // shingle text, `s` its 15-hex md5 prefix (the same 60-bit identity
  // Spark holds as a long).
  private[queries] val ShSql =
    """sh0 AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(string_split(text,' ')) - 1),
      |    i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))) AS s0
      |  FROM documents),
      |sh AS (SELECT doc_id, s0, substring(md5(s0),1,15) AS s FROM sh0)""".stripMargin
  private val JacSql =
    """sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT d1, d2, (common*10000) // (x.n + y.n - common) AS jac_e4
      |  FROM pairs JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2)""".stripMargin

  /** DuckDB CTE fragment: connected components over the ≥0.6-Jaccard
    * pair graph (`lbl`: doc_id, cluster_id = min reachable id) — the
    * recursive min-label CC shared by the q_dedup_groups,
    * q_dedup_canonical and q_split_leakage_safe oracles (all three must
    * cluster identically or their relations drift). Requires `jac`
    * (from [[JacSql]]) in scope and a `WITH RECURSIVE` opener.
    * `dup AS MATERIALIZED` is load-bearing at scale — see
    * q_dedup_groups' scaladoc.
    */
  private val CcSql =
    """dup AS MATERIALIZED (SELECT d1, d2 FROM jac WHERE jac_e4 >= 6000),
      |edges AS (SELECT d1, d2 FROM dup UNION ALL SELECT d2, d1 FROM dup),
      |reach(d, r) AS (
      |  SELECT d1, d1 FROM (SELECT DISTINCT d1 FROM edges)
      |  UNION
      |  SELECT e.d1, reach.r FROM edges e JOIN reach ON reach.d = e.d2),
      |lbl AS (SELECT d AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY d)""".stripMargin

  /** DuckDB CTE fragment: the MinHash(8) + LSH(4 bands × 2 rows) band
    * CANDIDATE pair relation (`cand`), shared by the q_minhash_dup and
    * q_minhash_recall oracles — the identical affine-permutation
    * signature arithmetic as the Spark side (see q_minhash_dup's
    * scaladoc for the portability argument). Requires `sh` (from
    * [[ShSql]]) in scope.
    */
  private[queries] val MinhashCandSql = {
    import graft.functions.MinHashSig.{MinhashA, MinhashB, MinhashP}
    val sigMins = (0 until 8).map(i =>
      s"min((${MinhashA(i)}*h32 + ${MinhashB(i)}) % $MinhashP) AS h$i").mkString(",\n      |  ")
    s"""h32s AS (SELECT doc_id, ('0x' || substring(md5(s0),1,8))::BIGINT AS h32 FROM sh),
       |sig AS (SELECT doc_id,
       |  $sigMins
       |  FROM h32s GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, h0 AS k1, h1 AS k2 FROM sig UNION ALL
       |  SELECT doc_id, 1, h2, h3 FROM sig UNION ALL
       |  SELECT doc_id, 2, h4, h5 FROM sig UNION ALL
       |  SELECT doc_id, 3, h6, h7 FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Per-doc LSH band keys (doc_id, band, k1, k2): the MinHash(8)
    * signature ([[graft.functions.MinHashSig]] over the doc's 3-token
    * window digests) cut into 4 bands of 2 mins, four rows per doc.
    * One per-row projection, never a groupBy, so the frame is legal
    * inside a streaming plan (no per-doc shuffle agg whose state would
    * grow with the stream) and is the map stage of every near-dup row.
    * Docs with fewer than 3 tokens (or null text) have no signature
    * and yield no rows. Every key is bit-identical to the oracle's
    * [[MinhashCandSql]] `bands`.
    */
  private[graft] def minhashBandKeys(docs: DataFrame): DataFrame = {
    val sig = col("sig")
    docs
      .select(col("doc_id"), graft.functions.MinHashSig.minHashSig(
        graft.functions.Md5Ops.shingleMd5U64s(split(col("text"), " "), 3)).as("sig"))
      // explode(null) emits nothing; a Filter on `sig` would be pushed
      // below the projection and evaluate the kernel twice
      .select(col("doc_id"), explode(when(sig.isNotNull, array((0 until 4).map(b =>
        struct(lit(b).as("band"), sig(2 * b).as("k1"), sig(2 * b + 1).as("k2"))): _*)))
        .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.k1").as("k1"), col("bk.k2").as("k2"))
  }

  /** The LSH band-candidate pairs (d1 < d2, distinct) of a band-key
    * frame: ONE shuffle on the band key (4 small rows per doc), with the
    * pair fan-out generated inside each collision bucket. A band
    * self-join would read the band frame twice, which forces either a
    * persist or a second signature pass.
    */
  private[graft] def bandPairs(bandKeys: DataFrame): DataFrame =
    bandKeys
      .groupBy("band", "k1", "k2")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      // all i<j pairs inside the bucket: ds is sorted+distinct, so
      // (ds[i], y ∈ ds[i+1..]) enumerates exactly the d1 < d2 pairs
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), " +
          "y -> named_struct('d1', x, 'd2', y))))")).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()

  /** Connected components of an undirected pair graph → (doc_id,
    * cluster_id = component min, cluster_size). AQE-style adaptive plan
    * choice on the MATERIALIZED pair-graph size (dup pairs are rare
    * relative to the corpus, so the graph is usually tiny even when the
    * corpus is not): at or below `driverMaxEdges` undirected pairs
    * (default 1M ≈ 16 MB) the edge list is collected and solved with
    * exact union-find on the driver — milliseconds, zero iterative
    * jobs; above it, the ALTERNATING large-star/small-star contraction
    * of Kiveris et al. 2014 ("Connected Components in MapReduce and
    * Beyond") — O(log n) rounds on ANY graph shape (r12: replaces the
    * min-label propagation whose round count was graph-DIAMETER-bound
    * and capped at 20 — right for near-clique dup clusters, a loud
    * failure on long chains; DedupSpec now pins a 120-node path graph
    * the old cap could never finish). Same fixpoint either way; the
    * collect is bounded by the explicit threshold, never corpus-sized.
    * Both paths are spec-tested (DedupSpec forces the distributed path
    * with driverMaxEdges = 0).
    */
  def connectedComponents(s: SparkSession, pairs: DataFrame,
      driverMaxEdges: Long = 1000000L,
      persistReg: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count()
    var labels: DataFrame = null
    if (nEdges <= 2L * driverMaxEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.select("d1", "d2").collect().foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val out = parent.keys.toSeq.map(d => (d, find(d)))
      import s.implicits._
      labels = out.toDF("d", "lbl")
    } else {
      labels = starContractLabels(edges)
    }
    // both paths are done with the edge cache here: the driver path
    // consumed it in the collect, and the star contraction eagerly
    // materialized its final label cache before returning
    edges.unpersist()
    persistReg.foreach(_ += labels)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("d").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Distributed CC labels (d, lbl) via ALTERNATING large-star /
    * small-star contraction (Kiveris et al. 2014, "Connected Components
    * in MapReduce and Beyond") over a symmetric edge frame. Per round:
    * LARGE-STAR — for each node u with m = min(Γ(u) ∪ u), every
    * strictly LARGER neighbor v > u re-points to m (emitted (v, m); m ≤
    * u < v keeps the frame oriented hi→lo and acyclic); SMALL-STAR —
    * group the hi→lo edges by hi, m = min of the smaller neighbors, the
    * node and each smaller neighbor re-point to m. Each half is one
    * hash agg + one equi-join on node ids — no corpus-scale work, the
    * edge frame only (deduped each half). Fixpoint = per-component
    * stars centered at the component MINIMUM, reached in O(log n)
    * rounds on ANY graph shape: a length-L path halves per round where
    * min-label propagation needs L rounds (the regime the old 20-round
    * diameter cap aborted on — r11 verdict #6). Convergence is EXACT
    * set equality (equal counts + empty EXCEPT), never a checksum.
    *
    * Skew (r12 verdict #6, now implemented): star centers concentrate
    * one groupBy key per component — a mega-component at 100 TB puts
    * its whole neighbor list under one reducer key each round. With
    * `spark.graft.ccSaltBuckets` = S > 1 both per-key min aggregations
    * run TWO-PHASE: partial min per (key, hash(value) mod S), then the
    * S partials reduce to the true min — per-reducer-key fan-in drops
    * from deg(center) to S, and min is associative so the result is
    * bit-identical (DedupSpec forces S=8 on a planted mega-star and
    * pins label equality vs union-find). Default S=1: Spark's map-side
    * partial agg already caps per-key shuffle rows at #mapTasks, so the
    * extra exchange only pays for itself in the many-thousands-of-tasks
    * regime; the skewed equi-JOIN on the center key is AQE skew-join's
    * job either way.
    */
  private def starContractLabels(edges: DataFrame): DataFrame = {
    val salt = edges.sparkSession.conf
      .getOption("spark.graft.ccSaltBuckets").map(_.toInt).getOrElse(1)
    // two-phase (salted) per-key min: exact for any S because min is
    // associative-commutative; S=1 is the plain single agg
    def minPerKey(df: DataFrame, key: String, value: String, out: String): DataFrame =
      if (salt <= 1) df.groupBy(key).agg(min(value).as(out))
      else df
        .groupBy(col(key), pmod(hash(col(value)), lit(salt)).as("_sb"))
        .agg(min(value).as("_pm"))
        .groupBy(key).agg(min("_pm").as(out))
    // eager localCheckpoint per round, NOT persist: each round's plan
    // references the previous frame ~12× (two symmetrizations, two
    // joins, two unions), so a lazily-nested lineage grows 12^rounds
    // plan nodes and OOMs the driver on plan stringification alone by
    // round ~7; checkpointing truncates the logical plan to a scan of
    // the materialized blocks (disk-backed — safe to build on after the
    // parent round's blocks are dropped)
    var e = Ckpt.boundary(edges
      .select(greatest(col("d1"), col("d2")).as("hi"),
        least(col("d1"), col("d2")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct())
    var nCur = e.count()
    var converged = false
    var rounds = 0
    // 50 rounds covers any graph below 2^50 nodes with margin; hitting
    // the cap means the operator is broken, not the input — fail loudly
    while (!converged && rounds < 50) {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mOf = minPerKey(sym, "u", "v", "mv")
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = sym.join(mOf, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      val mS = minPerKey(ls, "hi", "lo", "m")
      val ss = ls.join(mS, "hi")
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(mS.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      val next = Ckpt.boundary(ss)
      val nNext = next.count()
      converged = nNext == nCur && next.except(e).isEmpty
      // actually free the superseded round's checkpoint blocks —
      // df.unpersist() was a cache-manager no-op on a checkpointed frame
      Ckpt.free(e)
      e = next
      nCur = nNext
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: star contraction not converged after $rounds rounds")
    // star edges ARE (child, root); roots (and only roots) are absent
    // from the hi side and label themselves
    val nodes = edges.select(col("d1").as("d")).distinct()
    val lbl = Ckpt.boundary(nodes
      .join(e.select(col("hi").as("d"), col("lo")), Seq("d"), "left")
      .select(col("d"), coalesce(col("lo"), col("d")).as("lbl")))
    Ckpt.free(e) // materialized; the star edge blocks can go
    lbl
  }

  /** The dedup battery's SHARED pair relation — (d1, d2, jac_e4) for
    * pairs at Jaccard ≥ 0.6 — MATERIALIZED once per corpus since r10
    * via [[CorpusTable]], the same amortization the graph battery's
    * edge table got (r9 verdict #3 generalized). All three declared
    * dedup queries (`q_dedup_ngram` = the pairs themselves,
    * `q_dedup_groups` = connected components over them,
    * `q_dedup_canonical` = survivor policy over the components) used to
    * rebuild the identical PPJoin pair pass from the corpus — at
    * gen-sf1 that was 3 × ~18 s (dev/bench_r9/scale_table_heaps.md),
    * the battery's dominant cost, while the pair set itself is
    * dup-pair-sized (always ≪ corpus: near-dups are the exception, not
    * the rule). Correctness is unchanged by construction — the
    * materialized relation is THE SAME relation each query built inline
    * (DuckDB's oracle still derives it from the same threshold rule
    * inside each query), which the per-query hash-matches prove. The
    * build's corpus-linear per-doc persist is released once
    * `materialized` returns — by then the table is written (or was
    * already cached and the build never ran), and nothing reads the
    * persist again.
    */
  /** The PPJoin INDEX at rest — the per-doc ranked-shingle-set frame,
    * materialized once per corpus (corpus-linear; the build's dominant
    * corpus pass). Both the full pair-table build and
    * q_dedup_incremental's batch probe read THIS, so a cold corpus pays
    * the shingle/df/collect pass exactly once (r11 review fix: the pair
    * build previously re-derived the identical frame internally).
    */
  private def jacSetsTable(s: SparkSession, dir: String): DataFrame =
    CorpusTable.materialized(s, dir, "graft_jacsets")(
      jacSetsFrame(shingleText(s, dir), 6000L))

  private def jacPairTable(s: SparkSession, dir: String): DataFrame =
    CorpusTable.materialized(s, dir, "graft_jacpairs")(
      pairsFromSets(jacSetsTable(s, dir), 6000L, probeMinD2 = None))

  /** The dedup battery's shared CLUSTER relation — connected components
    * over [[jacPairTable]] — materialized once per corpus for the same
    * reason as the pair table: both `q_dedup_groups` (the labels
    * themselves) and `q_dedup_canonical` (survivor policy over them)
    * need the identical label frame, and the CC iteration is the
    * second-largest shared cost after the pair build. Component-linear
    * (one row per clustered doc), always ≪ corpus. Oracles still derive
    * the clustering inline via the recursive CTE, so the per-query
    * hash-matches keep proving equivalence.
    */
  private def ccLabelTable(s: SparkSession, dir: String): DataFrame = {
    val persisted = scala.collection.mutable.Buffer.empty[DataFrame]
    val out = CorpusTable.materialized(s, dir, "graft_jaccc") {
      connectedComponents(s, jacPairTable(s, dir).select(col("d1"), col("d2")),
        persistReg = Some(persisted))
    }
    persisted.foreach(Ckpt.free) // local checkpoints: unpersist() frees nothing
    out
  }

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // q_dedup_ngram ★ — exact n-gram Jaccard near-dup pairs at ≥ 0.6
    // (the corpus separates cleanly: planted dups ≥ 0.9, background
    // < 0.1 — measured, both SFs).
    QueryDef(
      "q_dedup_ngram",
      (s: SparkSession, dir: String) =>
        jacPairTable(s, dir)
          .orderBy("d1", "d2"),
      Some(s"""WITH $ShSql,
              |$JacSql
              |SELECT d1, d2, jac_e4 FROM jac WHERE jac_e4 >= 6000
              |ORDER BY d1, d2""".stripMargin)),

    // ------------------------------------------------------------------
    // q_dedup_groups ★ — duplicate-CLUSTER assignment: connected
    // components over the ≥0.6-Jaccard pair graph, each clustered doc
    // labeled with its component's minimum doc_id (the canonical
    // survivor) plus the cluster size. This is the step an actual
    // dedup pipeline needs AFTER pair generation — near-dup is
    // transitive-ish (A~B~C), so survivor selection must operate on
    // components, not pairs, or chained dups each keep one copy.
    //
    // Distributed shape: iterative min-label propagation — labels
    // start as own id; each round every node takes the min of its own
    // and its neighbors' labels (one join + one groupBy per round,
    // label frame is component-linear); converges in graph-diameter
    // rounds (dup clusters are tiny cliques: 1-2 rounds here; the
    // driver loop only ever collects a changed-row COUNT, never data).
    // The standard large-graph CC algorithm, pairs never materialized
    // beyond the (small) dup-pair set. Oracle: DuckDB recursive CTE
    // computes min reachable id over the same edges — exact integers.
    // `dup AS MATERIALIZED` is load-bearing at scale: without it DuckDB
    // inlines the whole shingle self-join into every recursive
    // iteration (measured at sf1: ~100 s × diameter rounds and >79 GB
    // of accumulated hash-join spill → disk-full; materialized, the
    // same query runs in ~73 s total). Same rows either way.
    QueryDef(
      "q_dedup_groups",
      (s: SparkSession, dir: String) =>
        ccLabelTable(s, dir).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $ShSql,
              |$JacSql,
              |$CcSql,
              |csz AS (SELECT cluster_id AS c, COUNT(*) AS cluster_size FROM lbl GROUP BY 1)
              |SELECT doc_id, cluster_id, cluster_size
              |FROM lbl JOIN csz ON lbl.cluster_id = csz.c
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_dedup_canonical ★ (new r5) — SURVIVOR SELECTION, the policy
    // step after clustering: within each near-dup cluster keep the
    // most COMPLETE copy (max token count, doc_id tiebreak) — the
    // policy real pipelines want over q_dedup_groups' min-id label
    // (truncated copies and boilerplate-stripped variants of a page
    // should lose to the full text, whatever their ids). One window
    // (row_number per cluster over (n_tokens DESC, doc_id)) on the
    // cluster-sized label frame — survivor choice costs nothing
    // beyond the clustering itself. Output per cluster: survivor,
    // its length, cluster size, and the dropped-token total (the
    // bytes the dedup actually saves).
    QueryDef(
      "q_dedup_canonical",
      (s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        val labels = ccLabelTable(s, dir)
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val ranked = labels.join(toks, "doc_id")
          .withColumn("rk", row_number().over(
            Window.partitionBy("cluster_id")
              .orderBy(desc("n_tokens"), asc("doc_id"))))
        ranked.groupBy("cluster_id")
          .agg(
            max(when(col("rk") === 1, col("doc_id"))).as("survivor"),
            max(when(col("rk") === 1, col("n_tokens"))).as("survivor_tokens"),
            count(lit(1)).as("cluster_size"),
            sum(when(col("rk") =!= 1, col("n_tokens")).otherwise(0L)).as("dropped_tokens"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE $ShSql,
              |$JacSql,
              |$CcSql,
              |tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
              |       FROM documents),
              |rkd AS (
              |  SELECT lbl.doc_id, cluster_id, tk.n_tokens,
              |    ROW_NUMBER() OVER (PARTITION BY cluster_id
              |      ORDER BY tk.n_tokens DESC, lbl.doc_id) AS rk
              |  FROM lbl JOIN tk ON lbl.doc_id = tk.doc_id)
              |SELECT cluster_id,
              |  CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS survivor,
              |  CAST(MAX(CASE WHEN rk = 1 THEN n_tokens END) AS BIGINT)
              |    AS survivor_tokens,
              |  COUNT(*) AS cluster_size,
              |  CAST(SUM(CASE WHEN rk != 1 THEN n_tokens ELSE 0 END) AS BIGINT)
              |    AS dropped_tokens
              |FROM rkd GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_dedup_incremental ★ (new r11) — INCREMENTAL batch dedup, the
    // shape a crawl pipeline actually runs: dedup only the NEW ingest
    // batch (the top 20% of doc_ids here — ids are ingest-ordered)
    // against everything earlier, never re-deduping the at-rest corpus
    // against itself. Per new doc: keep/drop plus its best ≥0.6-Jaccard
    // match among ALL earlier docs (old corpus or earlier-in-batch),
    // by (jac desc, id) — the pair-screen rule; the cluster-correct
    // variant is q_dedup_canonical over the union when transitive
    // chains matter.
    //
    // Scale shape — the point of the query: the PPJoin INDEX (per-doc
    // ranked shingle sets, corpus-linear) is MATERIALIZED per corpus
    // ([[CorpusTable]] `graft_jacsets` — "the index at rest"), and the
    // probe side (`probeMinD2`) restricts the prefix join's b side to
    // the batch BEFORE the join — so a warm run pays only batch-sized
    // candidate emission and verifies plus one at-rest index read,
    // never a corpus-scale rebuild (measured: gen-sf1 14.7 s rebuild
    // → 2.0 s warm, dev/PERF_NOTES r11). The batch bound is one scalar
    // agg collected driver-side (a bounded 1-row collect, house rule).
    // Oracle: DuckDB derives the same relation by filtering the full
    // pair CTE — the lossless-restriction proof of the probe filter
    // (d1 < d2 always, so every pair with a batch doc as its LATER
    // side survives).
    QueryDef(
      "q_dedup_incremental",
      (s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        // null-safe: an EMPTY corpus has no max id — cutoff 0, every
        // (zero) doc on the v2 side, empty output (r17 empty sweep)
        val maxId = docs.agg(max(col("doc_id"))).collect()(0)
          .get(0) match { case null => -1L; case v => v.asInstanceOf[Long] }
        val t = (4L * (maxId + 1L)) / 5L
        val pairs = pairsFromSets(jacSetsTable(s, dir), 6000L,
          probeMinD2 = Some(t))
        val w = Window.partitionBy("d2").orderBy(col("jac_e4").desc, col("d1"))
        val best = pairs.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("d2").as("doc_id"), col("d1").as("best_match"),
            col("jac_e4").as("best_jac_e4"))
        docs.filter(col("doc_id") >= t).select(col("doc_id"))
          .join(best, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("best_match").isNotNull, lit("drop"))
              .otherwise(lit("keep")).as("action"),
            col("best_match"), col("best_jac_e4"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $ShSql,
              |$JacSql,
              |tt AS (SELECT (4*(MAX(doc_id)+1))//5 AS t FROM documents),
              |inc AS (
              |  SELECT d1, d2, jac_e4 FROM jac, tt
              |  WHERE jac_e4 >= 6000 AND d2 >= tt.t),
              |best AS (
              |  SELECT d2 AS doc_id, d1 AS best_match, jac_e4 AS best_jac_e4
              |  FROM (
              |    SELECT d1, d2, jac_e4,
              |      row_number() OVER (PARTITION BY d2
              |        ORDER BY jac_e4 DESC, d1) AS rk
              |    FROM inc) WHERE rk = 1),
              |nd AS (SELECT doc_id FROM documents, tt WHERE doc_id >= tt.t)
              |SELECT nd.doc_id,
              |  CASE WHEN b.best_match IS NOT NULL THEN 'drop' ELSE 'keep' END
              |    AS action,
              |  b.best_match, CAST(b.best_jac_e4 AS BIGINT) AS best_jac_e4
              |FROM nd LEFT JOIN best b ON b.doc_id = nd.doc_id
              |ORDER BY nd.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_split_leakage_safe ★ (new r11) — CLUSTER-AWARE train/val/test
    // split: q_split_assign's deterministic hash split, made leakage-
    // safe. Hashing each doc_id independently puts ~18.5% of near-dup
    // PAIRS across split boundaries (0.9² + 0.05² + 0.05² = 81.5% stay
    // together), almost all of it — 2·0.9·0.1 = 18% — across the
    // train/eval line: plain hash splitting leaks near-copies of
    // training docs into eval. Here the split key
    // is the doc's ≥0.6-Jaccard CLUSTER canonical id (min doc_id, from
    // the shared [[ccLabelTable]]; unclustered docs key on their own
    // id), so every cluster lands wholly in one split BY CONSTRUCTION —
    // the property the spec re-checks edge-by-edge. Membership stays a
    // pure function of ids (reproducible across runs/engines/cluster
    // sizes). Stability under growth holds for single-cluster
    // EXTENSION only: with ingest-ordered ids, a new doc joining one
    // existing cluster can't lower its min-id canonical. But a new doc
    // BRIDGING two existing clusters merges them, and the merged
    // members inherit the smaller cluster id — those docs can move to
    // a different split. That reassignment is the leakage-safe choice
    // (keeping the old splits would leave a near-dup pair straddling
    // the train/eval line); a deployment that must pin docs to their
    // first-assigned split instead records assignments and accepts the
    // residual leakage on merge edges.
    //
    // Scale shape: the label frame is dup-cluster-sized (≪ corpus —
    // auto-broadcast here; a shuffled equi-join on doc_id at 100 TB),
    // the assignment is map-only on top of the join, and the output agg
    // is (source × split)-sized. The heavy inputs (pair table, CC
    // labels) are the SAME materialized corpus tables the rest of the
    // dedup battery amortizes — this query adds no corpus-scale pass.
    // Oracle: DuckDB recomputes the clusters via the recursive-CTE CC
    // and the identical md5-mod-100 rule — exact integers end to end.
    QueryDef(
      "q_split_leakage_safe",
      (s: SparkSession, dir: String) => {
        val lbl = ccLabelTable(s, dir).select(col("doc_id"), col("cluster_id"))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("toks"))
        val key = coalesce(col("cluster_id"), col("doc_id"))
        val h = pmod(graft.functions.Md5Ops.md5Prefix(key.cast("string"), 15), lit(100L))
        docs.join(lbl, Seq("doc_id"), "left")
          .select(col("source"),
            when(h < 90, "train").when(h < 95, "val").otherwise("test").as("split"),
            col("toks"),
            when(col("cluster_id").isNotNull, 1L).otherwise(0L).as("clustered"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
            sum("clustered").as("n_clustered"))
          .orderBy("source", "split")
      },
      Some(s"""WITH RECURSIVE $ShSql,
              |$JacSql,
              |$CcSql,
              |a AS (
              |  SELECT d.source,
              |    CASE WHEN ('0x' || substring(md5(CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'train'
              |         WHEN ('0x' || substring(md5(CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT % 100 < 95 THEN 'val'
              |         ELSE 'test' END AS split,
              |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks,
              |    CASE WHEN l.cluster_id IS NOT NULL THEN 1 ELSE 0 END AS clustered
              |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
              |SELECT source, split, COUNT(*) AS n_docs,
              |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
              |  CAST(SUM(clustered) AS BIGINT) AS n_clustered
              |FROM a GROUP BY source, split ORDER BY source, split""".stripMargin)),

    // ------------------------------------------------------------------
    // q_decontaminate ★ — train/eval contamination check, the
    // decontamination step of a training-data pipeline: for each doc of
    // the held-out set (doc_id < 20 stands in for the benchmark), the
    // fraction of its distinct 13-gram shingles that appear anywhere in
    // the training corpus (doc_id ≥ 20). 13 tokens is the classic
    // operating point (long enough that collisions imply copying).
    // Asymmetric by design — this is NOT pair dedup: one side is tiny
    // and BROADCAST (an eval suite is KBs–MBs), the corpus side streams
    // through map-side hash lookup, distinct-hit counting needs one
    // corpus-linear aggregation, and no pair stream ever exists. Exact
    // integer e4 fraction keeps the oracle engine-exact.
    QueryDef(
      "q_decontaminate",
      (s: SparkSession, dir: String) => {
        import graft.functions.Shingles.shingles
        def sh13(df: DataFrame) = df
          .select(col("doc_id"),
            explode(shingles(split(col("text"), " "), 13)).as("s"))
          .select(col("doc_id"), hash60(col("s")).as("h"))
        val docs = Tables(s, dir, "documents")
        val evalSh = sh13(docs.filter(col("doc_id") < 20))
        val trainH = sh13(docs.filter(col("doc_id") >= 20))
          .select(col("h")).distinct()
        val nTotal = evalSh.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        val nHit = broadcast(evalSh).join(trainH, "h")
          .select(col("doc_id"), col("h")).distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
        nTotal.join(nHit, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .withColumn("frac_e4", divTrunc(col("n_hit") * 10000L, col("n_grams")))
          .orderBy("doc_id")
      },
      Some("""WITH t13 AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(string_split(text,' ')) - 11),
             |    i -> array_to_string(string_split(text,' ')[i:i+12], ' ')))) AS s0
             |  FROM documents WHERE len(string_split(text,' ')) >= 13),
             |h13 AS (SELECT doc_id, substring(md5(s0),1,15) AS h FROM t13),
             |ev AS (SELECT doc_id, h FROM h13 WHERE doc_id < 20),
             |tr AS (SELECT DISTINCT h FROM h13 WHERE doc_id >= 20),
             |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM ev GROUP BY 1),
             |hit AS (
             |  SELECT doc_id, COUNT(DISTINCT ev.h) AS n_hit
             |  FROM ev JOIN tr ON ev.h = tr.h GROUP BY 1)
             |SELECT t.doc_id, t.n_grams, COALESCE(hit.n_hit, 0) AS n_hit,
             |  (COALESCE(hit.n_hit, 0) * 10000) // t.n_grams AS frac_e4
             |FROM tot t LEFT JOIN hit ON t.doc_id = hit.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_minhash_dup ★ — MinHash(k=8) + LSH(4 bands × 2 rows) candidate
    // generation, then exact-Jaccard verification of CANDIDATES ONLY.
    // At j=0.97 the candidate probability is 1-(1-j²)⁴ ≈ 1; background
    // pairs are pruned before any per-pair work.
    //
    // The 8 permutations are affine maps of ONE md5 per shingle:
    // g_i = (a_i·h32 + b_i) mod p over the 32-bit md5 prefix, p =
    // 2^31−1 (a universal hash family; Carter–Wegman). Round 1 salted
    // 9 md5s per exploded shingle and that was 35% of the whole bench
    // (39.6 s) — hashing cost, not shuffle cost. Integer affine forms
    // are ~free AND engine-portable: DuckDB reproduces them exactly
    // with ('0x'||prefix)::BIGINT arithmetic (a_i < 2^30 keeps
    // a_i·h32 < 2^62 — no signed-64 overflow on either engine).
    // A 31-bit signature space can collide mins, but both engines
    // compute the SAME mins, banding is only a candidate filter, and
    // the verify below is exact-Jaccard on the full 60-bit sets.
    //
    // The signature is one per-doc kernel ([[minhashBandKeys]]) and the
    // candidate pairs come from one shuffle on the band key
    // ([[bandPairs]]). Only docs that appear in a candidate pair get a
    // verify-side hash set (the 60-bit h = u >>> 4 of each distinct
    // window digest, sorted, plus its size); no corpus-wide per-doc
    // frame is built or persisted. Exact Jaccard is
    // size(array_intersect) per pair — per-pair cost on candidates
    // only, never the full pair matrix (the first cut verified via the
    // FULL shingle self-join and was slower than exhaustive n-gram
    // Jaccard — LSH must prune work, not add to it).
    QueryDef(
      "q_minhash_dup",
      (s: SparkSession, dir: String) => {
        val docs = Tables(s, dir, "documents")
        val cand = bandPairs(minhashBandKeys(docs))
        val candDocs =
          cand.select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
        // coalesce: a non-nullable `us` keeps the optimizer from inferring
        // isnotnull(size(us)) off the Jaccard arithmetic and pushing it
        // below the semi-join, which would digest the whole corpus again
        val sets = docs.join(candDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), graft.functions.Md5Ops.shingleMd5U64s(
            split(coalesce(col("text"), lit("")), " "), 3, distinct = true).as("us"))
          .select(col("doc_id"),
            sort_array(transform(col("us"), u => shiftrightunsigned(u, 4))).as("hs"),
            size(col("us")).cast("long").as("n"))
        val x = sets.select(col("doc_id").as("d1"), col("hs").as("hs1"), col("n").as("n1"))
        val y = sets.select(col("doc_id").as("d2"), col("hs").as("hs2"), col("n").as("n2"))
        // no broadcast hint on cand: the candidate-pair set scales with
        // dup density × corpus (data-dependent — the r7 interval-join
        // bug class); AQE broadcasts it when it is actually small.
        // d1/d2 come from the per-doc sides, as in documents' schema.
        y.join(x.join(cand, "d1"), "d2")
          .select(col("d1"), col("d2"),
            size(array_intersect(col("hs1"), col("hs2"))).cast("long").as("common"),
            col("n1"), col("n2"))
          .select(col("d1"), col("d2"),
            divTrunc(col("common") * 10000L, col("n1") + col("n2") - col("common"))
              .as("jac_e4"))
          .filter(col("jac_e4") >= 6000L)
          .orderBy("d1", "d2")
      },
      Some(s"""WITH $ShSql,
             |$MinhashCandSql,
             |$JacSql
             |SELECT j.d1, j.d2, j.jac_e4 FROM jac j
             |JOIN cand c ON j.d1 = c.d1 AND j.d2 = c.d2
             |WHERE j.jac_e4 >= 6000 ORDER BY j.d1, j.d2""".stripMargin)),

    // ------------------------------------------------------------------
    // q_minhash_recall ★ (new r11) — IN-ENGINE dedup-candidate
    // evaluation: recall of the MinHash(8)+LSH(4×2) band-candidate
    // generator (q_minhash_dup's candidate relation, the same
    // [[bandPairs]] over [[minhashBandKeys]]) against the EXACT
    // ≥0.6-Jaccard ground truth
    // (the SHARED [[jacPairTable]] — q_dedup_ngram's own pair
    // relation), bucketed by true Jaccard band (jac_e4 div 1000: 6..10).
    // This is q_ann_recall's twin for the dedup family — the curve a
    // production dedup pipeline monitors continuously: LSH theory says
    // P(candidate) = 1-(1-j²)⁴ rises steeply with j (≈0.69 at j=0.6,
    // ≈0.99997 at j=0.9), and a drop in the measured per-band recall
    // is how banding-parameter drift or a corpus shift surfaces.
    // Both inputs are relations the engine already materializes/builds
    // for its declared queries; the eval itself is one dup-pair-sized
    // left join + a ≤5-group aggregate — no new corpus-scale work, no
    // new float decision (intersection counts and the half-up e4 ratio
    // are exact integers on both engines).
    // Scale plan: `truth` is the per-corpus materialized pair table
    // (dup-pair-sized, always ≪ corpus); `cand` the in-bucket pair
    // fan-out (the same plan q_minhash_dup runs); the join keys are (d1, d2)
    // pairs so the shuffle is candidate+truth-pair-sized.
    // Measured operating points: on the driver corpus (sf0.1) every
    // true pair lands in bands 8-10 (it separates: planted dups ≥0.8,
    // background <0.1) where theory puts P(cand) ≥ 0.998 and measured
    // recall is exactly 10000 e4 — the curve's transition region is
    // empty, which the eval reports faithfully by emitting no row for
    // it. On the gen-sf0.1 Heaps fixture the curve is live: band 7
    // recall 9773 e4 (43/44), band 8 recall 9524 e4 (20/21) — real LSH
    // misses exactly where 1-(1-j²)⁴ predicts them (0.92-0.99 there) —
    // both fixtures oracle-MATCH. DedupSpec cross-checks the declared
    // rows against a driver-side recomputation from the two declared
    // relations.
    QueryDef(
      "q_minhash_recall",
      (s: SparkSession, dir: String) => {
        val truth = jacPairTable(s, dir)
        val cand = bandPairs(minhashBandKeys(Tables(s, dir, "documents")))
        truth.join(cand.withColumn("hit", lit(1L)), Seq("d1", "d2"), "left")
          .groupBy(divTrunc(col("jac_e4"), lit(1000L)).as("jac_band"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("jac_band"), col("n_true"), col("n_hit"),
            divTrunc(col("n_hit") * 20000L + col("n_true"), col("n_true") * 2L)
              .as("recall_e4"))
          .orderBy("jac_band")
      },
      Some(s"""WITH $ShSql,
             |$MinhashCandSql,
             |$JacSql,
             |truth AS (SELECT d1, d2, jac_e4 FROM jac WHERE jac_e4 >= 6000),
             |j AS (
             |  SELECT truth.jac_e4 // 1000 AS jac_band, COUNT(*) AS n_true,
             |    SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
             |  FROM truth LEFT JOIN cand c ON c.d1 = truth.d1 AND c.d2 = truth.d2
             |  GROUP BY 1)
             |SELECT CAST(jac_band AS BIGINT) AS jac_band,
             |  CAST(n_true AS BIGINT) AS n_true, CAST(n_hit AS BIGINT) AS n_hit,
             |  CAST((n_hit*20000 + n_true) // (n_true*2) AS BIGINT) AS recall_e4
             |FROM j ORDER BY jac_band""".stripMargin)),

    // ------------------------------------------------------------------
    // q_simhash_dup ★ — SimHash(64) Hamming-band near-dup: one 64-bit
    // fingerprint per doc, 4×16-bit band keys, Hamming-verify on band
    // candidates via bit_count(xor) (Manku et al. WWW'07).
    // ORACLE-CHECKED (upgraded from rows-only in r1): FNV-1a-64 is pure
    // integer arithmetic, so DuckDB reproduces the fingerprint exactly
    // with a UBIGINT list_reduce over the feature's UTF-8 BYTES (xor +
    // multiply mod 2^64 via HUGEINT) and the same per-bit vote; band
    // keys and Hamming distances are sign-independent bit patterns.
    // Fidelity + precision/recall stay asserted in DedupSpec.
    // BYTE-WISE since r5 (was per-character ascii(), an ASCII-only
    // assumption — r4 ask #6): bytes come from hex(encode(t)) parsed
    // two hex digits at a time, so the oracle hashes the identical
    // UTF-8 byte stream Spark's Fnv64 hashes — verified equal to
    // FNV-1a over .getBytes on multi-byte fixtures (é, 日本).
    // MANKU-FAITHFUL since r9 (Manku et al. WWW'07 §3 — features with
    // weights): the fingerprint now votes 3-token SHINGLE features with
    // idf-derived INTEGER weights w = ⌊log₂(N/df)⌋+1 (length of the
    // binary rendering of the exact integer quotient N div df — no
    // float anywhere), and the verify cut widens to Hamming ≤ 7 (the
    // 4×16 pigeonhole still GUARANTEES ≤ 3; 4–7 is probabilistic LSH
    // recall, identical in both engines because the oracle mirrors the
    // band-candidate step). Three measurements drove this redesign
    // (dev/PERF_NOTES.md r9):
    // (1) The r8 Heaps curve showed UNIGRAM fingerprints concentrate on
    //     topic-less Zipf corpora (hottest 16-bit band bucket ~40% of
    //     docs; candidates ~N², 5.3M → 408M for 10×) — every doc's
    //     votes are dominated by the shared head VOCABULARY. Shingles
    //     fix the cause: the feature space is the token-TRIPLE space,
    //     where no feature is corpus-universal, so fingerprints are
    //     document-distinctive and bands spread.
    // (2) Naive idf weighting of UNIGRAMS (the r8 watch-item sketch)
    //     measured WORSE on the driver corpus: with a 31-word
    //     vocabulary one rare token gets w=5 against a w=1 field and
    //     its presence/absence scatters true pairs to Hamming 4–25
    //     while the background floor drops to 3 — signal destroyed
    //     (precision 0 at any cut). Weights belong on features rare
    //     enough to be distinctive, i.e. shingles — Manku's actual
    //     operating point.
    // (3) Shingle+idf on the driver corpus: true j≥0.6 pairs at
    //     Hamming 1–9, background floor EMPTY through 10 → at the ≤7
    //     cut precision 1.0, recall 0.68 of the exact n-gram truth
    //     (DedupSpec pins ≥0.9/≥0.6).
    // Plan: weighting needs each shingle's corpus df, so the vote runs
    // over exploded rows — df agg (one shingle-keyed shuffle with
    // map-side combine over per-doc-distinct rows), weight join
    // (shingle-keyed equi-join; the weight table is shingle-vocabulary
    // sized and Heaps-growing, so it is NOT hinted — AQE broadcasts it
    // while it fits, shuffles when it doesn't), then one doc_id-keyed
    // 64-sum aggregate (map-side combined; the codegen'd Fnv64 hashes
    // shingle strings row-wise with SimHash64's exact FNV-1a-64). The
    // 1-row N frame rides a documented broadcast cross (the repo-wide
    // scalar-total pattern). Everything after the fingerprint —
    // 4×16-bit bands, explicit-N repartition, Hamming filter BEFORE
    // the distinct — is unchanged from r6/r8.
    QueryDef(
      "q_simhash_dup",
      (s: SparkSession, dir: String) => {
        import graft.functions.Fnv64.fnv64
        import graft.functions.Shingles.shinglesAll
        val docs = Tables(s, dir, "documents")
        // 3-token shingles WITH occurrence multiplicity (codegen'd —
        // the interpreted transform(sequence)+slice+concat_ws chain
        // measured 5.0 s for one sf0.1 pass; docs with < 3 tokens
        // contribute no features, and the explode drops them)
        // hash IMMEDIATELY: df, weight, and votes are all keyed by the
        // 8-byte FNV hash, never the shingle string — every shuffle in
        // the fingerprint pipeline carries longs (measured 2.67 s →
        // ~1 s at sf0.1 vs string keys). df-by-hash equals
        // df-by-shingle up to FNV collisions, which BOTH engines
        // reproduce bit-identically (the oracle's df_t is keyed by the
        // same hash), so oracle parity is exact even on a collision.
        val hs = docs.select(col("doc_id"),
          explode(shinglesAll(split(col("text"), " "), 3)).as("t"))
          .select(col("doc_id"), fnv64(col("t")).as("h"))
        val dfT = hs.distinct().groupBy("h").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val wgt = dfT.crossJoin(broadcast(nDocs))
          .select(col("h"),
            length(bin(expr("n_docs div df"))).cast("long").as("w"))
        val voteCols = (0 until 64).map { j =>
          sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L,
            col("w")).otherwise(-col("w"))).as(s"v$j") }
        val fp = hs.join(wgt, "h")
          .groupBy("doc_id")
          .agg(voteCols.head, voteCols.tail: _*)
          .select(col("doc_id"),
            (0 until 64).map(j =>
              when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
              .reduce(_.bitwiseOR(_)).as("sh"))
        val bandArr = array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sh"), 16 * b).bitwiseAND(lit(0xffffL)).as("key"))): _*)
        // explicit-N repartition on the band key (AQE would coalesce
        // the bytes-tiny exchange to one task and serialize the
        // candidate emission — r6 scale-curve finding, as q_mm_ahash),
        // and Hamming-filter BEFORE the dedup so only true near-pairs
        // reach the distinct's exchange
        val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
        val bands = fp.select(col("doc_id"), col("sh"), explode(bandArr).as("bk"))
          .select(col("doc_id"), col("sh"), col("bk.band").as("band"), col("bk.key").as("key"))
          .repartition(nPart, col("band"), col("key"))
        bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
          .filter(col("hamming") <= 7)
          .distinct()
          .orderBy("d1", "d2")
      },
      Some("""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |toks AS (
             |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts)-1, 1)),
             |    i -> array_to_string(ts[i:i+2], ' '))) AS t
             |  FROM docs),
             |th AS (
             |  SELECT doc_id, list_reduce(
             |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
             |      list_transform(range(1, octet_length(encode(t))+1),
             |        i -> CAST(('0x' || substring(hex(encode(t)), 2*i-1, 2))::INT AS UBIGINT))),
             |    (h, c) -> CAST((CAST(xor(h, c) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT)) AS h
             |  FROM toks),
             |df_t AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM th GROUP BY h),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |wt AS (SELECT h, CAST(length(bin(n_docs // df)) AS BIGINT) AS w
             |       FROM df_t, n),
             |votes AS (
             |  SELECT doc_id, j, SUM(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN w ELSE -w END) AS v
             |  FROM th JOIN wt USING (h), range(64) r(j) GROUP BY doc_id, j),
             |fp AS (
             |  SELECT doc_id, CAST(SUM(CASE WHEN v > 0
             |    THEN (CAST(1 AS UBIGINT) << CAST(j AS INTEGER))
             |    ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS sh
             |  FROM votes GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, sh, b, (sh >> CAST(16*b AS INTEGER)) & 65535 AS key
             |  FROM fp, range(4) r(b)),
             |pairs AS (
             |  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2,
             |    CAST(bit_count(xor(a.sh, b2.sh)) AS INTEGER) AS hamming
             |  FROM bands a JOIN bands b2
             |  ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id)
             |SELECT d1, d2, hamming FROM pairs WHERE hamming <= 7
             |ORDER BY d1, d2""".stripMargin)),

    // ------------------------------------------------------------------
    // q_substring_dedup ★ — per-document duplicated-SUBSTRING fraction:
    // for each document, the share of its distinct 5-token shingles
    // that occur in the corpus more than once (i.e. also appear in
    // another document, or twice in this one). This is the exact-
    // substring contamination signal of training-data dedup (cf. Lee
    // et al. 2022, "Deduplicating Training Data Makes Language Models
    // Better": duplicated spans are removed even when whole documents
    // are not near-dups) — a per-DOC diagnostic, distinct from
    // q_dedup_ngram's per-PAIR Jaccard.
    //
    // Plan (corpus-linear, no pair stream): one codegen'd Shingles
    // explode into distinct-per-doc (doc, shingle-hash60) rows
    // (persisted — two consumers), ONE corpus-wide hash count keyed on
    // the 8-byte hash (map-side combine; since shingles are distinct
    // per doc, the count IS the number of containing docs + within-doc
    // repeats of the span), one equi-join of the pair stream back to
    // the (vocabulary-sized) count table, one per-doc agg. At 100 TB
    // every shuffle is keyed on a long or doc_id; nothing is quadratic.
    //
    // Oracle parity: BOTH engines count by the md5-60 shingle identity
    // (long vs 15-hex prefix — order/equality-isomorphic), and DuckDB
    // dedups on the raw shingle string BEFORE hashing exactly as the
    // codegen'd Shingles.shingles (distinct) does, so even a hash collision
    // produces identical counts in both engines.
    QueryDef(
      "q_substring_dedup",
      (s: SparkSession, dir: String) => {
        import graft.functions.Shingles.shingles
        val docs = Tables(s, dir, "documents")
        val p = docs
          .select(col("doc_id"),
            explode(shingles(split(col("text"), " "), 5)).as("shs"))
          .select(col("doc_id"), hash60(col("shs")).as("sh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count() // eager: the count table + the rejoin both reuse it
        val c = p.groupBy("sh").agg(count(lit(1)).as("nd"))
        val d = p.join(c, "sh").groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("nd") >= 2L, 1L).otherwise(0L)).as("n_dup"))
        docs.select("doc_id").join(d, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            divTrunc(coalesce(col("n_dup"), lit(0L)) * 10000L,
              greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L)))
              .as("dup_frac_e4"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |p AS (
             |  SELECT doc_id, substring(md5(shs), 1, 15) AS sh FROM (
             |    SELECT DISTINCT doc_id, shs FROM (
             |      SELECT doc_id, unnest(list_transform(range(1, len(ts)-3),
             |        i -> array_to_string(ts[i:i+4], ' '))) AS shs
             |      FROM t))),
             |c AS (SELECT sh, COUNT(*) AS nd FROM p GROUP BY 1),
             |d AS (
             |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |    CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
             |  FROM p JOIN c ON p.sh = c.sh GROUP BY 1)
             |SELECT t.doc_id AS doc_id, COALESCE(n_shingles, 0) AS n_shingles,
             |  COALESCE(n_dup, 0) AS n_dup,
             |  (COALESCE(n_dup, 0) * 10000) //
             |    GREATEST(COALESCE(n_shingles, 0), 1) AS dup_frac_e4
             |FROM t LEFT JOIN d ON t.doc_id = d.doc_id
             |ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q_substring_cross ★ (new r12) — CROSS-document exact-substring
    // dedup, the missing member of the Lee et al. 2022 family (r11
    // verdict #1): per document, the fraction of its distinct 13-token
    // shingles whose hash appears in ≥ 2 DISTINCT documents, plus the
    // widest ownership its spans reach (owners_max). q_substring_dedup
    // (k=5) measures repeated spans WITHIN the corpus as a per-doc
    // diagnostic; q_decontaminate (k=13) checks eval-vs-train only.
    // This is the train-vs-train signal: a doc with high cross_frac_e4
    // shares long verbatim spans (13 tokens ≈ the 50-token span's
    // fixture-scale stand-in) with other TRAINING docs — boilerplate,
    // mirrored articles, license headers — exactly what ExactSubstr
    // dedup cuts before training.
    //
    // Plan (corpus-linear, NO pair stream): one codegen'd Shingles
    // explode into per-doc-distinct (doc_id, hash60) rows (persisted —
    // the ownership count and the per-doc rejoin both consume it), ONE
    // corpus-wide count keyed on the 8-byte hash — per-doc-distinct
    // shingles make that count the number of OWNING DOCS — then the
    // equi-join back and one per-doc agg. Every shuffle is keyed on a
    // long or doc_id; candidate enumeration never materializes a
    // doc-pair. At 100 TB this is the scalable shape of ExactSubstr:
    // the suffix-array approach is single-machine, the shingle-
    // ownership approach is one map-side-combined hash agg.
    //
    // Oracle parity: both engines count by the md5-60 identity (long
    // vs 15-hex prefix — equality-isomorphic) and DuckDB dedups the
    // raw shingle STRING before hashing, exactly as the codegen'd
    // Shingles.shingles (distinct) does — identical counts even under a
    // 60-bit collision (the q_substring_dedup collision rule).
    QueryDef(
      "q_substring_cross",
      (s: SparkSession, dir: String) => {
        import graft.functions.Shingles.shingles
        val docs = Tables(s, dir, "documents")
        val p = docs
          .select(col("doc_id"),
            explode(shingles(split(col("text"), " "), 13)).as("shs"))
          .select(col("doc_id"), hash60(col("shs")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count() // eager: owner counts + the rejoin both reuse it
        val owners = p.groupBy("h").agg(count(lit(1)).as("owners"))
        val d = p.join(owners, "h").groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("owners") >= 2L, 1L).otherwise(0L)).as("n_cross"),
            max("owners").as("owners_max"))
        docs.select("doc_id").join(d, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
            coalesce(col("n_cross"), lit(0L)).as("n_cross"),
            divTrunc(coalesce(col("n_cross"), lit(0L)) * 10000L,
              greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L)))
              .as("cross_frac_e4"),
            coalesce(col("owners_max"), lit(0L)).as("owners_max"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |p AS (
             |  SELECT doc_id, substring(md5(shs), 1, 15) AS sh FROM (
             |    SELECT DISTINCT doc_id, shs FROM (
             |      SELECT doc_id, unnest(list_transform(range(1, len(ts)-11),
             |        i -> array_to_string(ts[i:i+12], ' '))) AS shs
             |      FROM t WHERE len(ts) >= 13))),
             |c AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS owners FROM p GROUP BY 1),
             |d AS (
             |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |    CAST(SUM(CASE WHEN owners >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_cross,
             |    CAST(MAX(owners) AS BIGINT) AS owners_max
             |  FROM p JOIN c ON p.sh = c.sh GROUP BY 1)
             |SELECT t.doc_id AS doc_id, COALESCE(n_shingles, 0) AS n_shingles,
             |  COALESCE(n_cross, 0) AS n_cross,
             |  (COALESCE(n_cross, 0) * 10000) //
             |    GREATEST(COALESCE(n_shingles, 0), 1) AS cross_frac_e4,
             |  COALESCE(owners_max, 0) AS owners_max
             |FROM t LEFT JOIN d ON t.doc_id = d.doc_id
             |ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q_substring_hist ★ (new r12) — the corpus-level companion of
    // q_substring_cross: the OWNING-DOC COUNT HISTOGRAM of 13-token
    // spans (for each ownership width w, how many distinct spans are
    // held by exactly w documents). This is the curve a curation run
    // reads before picking the ExactSubstr cut: a long tail of
    // high-ownership spans = boilerplate to strip; owners = 1 mass =
    // unique content. One Shingles explode, one hash-keyed ownership
    // count (map-side combined), one (tiny) histogram agg — the
    // whole query is two hash aggs over corpus-linear rows; output is
    // max-ownership-sized.
    QueryDef(
      "q_substring_hist",
      (s: SparkSession, dir: String) => {
        import graft.functions.Shingles.shingles
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(shingles(split(col("text"), " "), 13)).as("shs"))
          .select(col("doc_id"), hash60(col("shs")).as("h"))
          .groupBy("h").agg(count(lit(1)).as("owners"))
          .groupBy("owners").agg(count(lit(1)).as("n_shingles"))
          .orderBy("owners")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |p AS (
             |  SELECT doc_id, substring(md5(shs), 1, 15) AS sh FROM (
             |    SELECT DISTINCT doc_id, shs FROM (
             |      SELECT doc_id, unnest(list_transform(range(1, len(ts)-11),
             |        i -> array_to_string(ts[i:i+12], ' '))) AS shs
             |      FROM t WHERE len(ts) >= 13))),
             |c AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS owners FROM p GROUP BY 1)
             |SELECT owners, CAST(COUNT(*) AS BIGINT) AS n_shingles
             |FROM c GROUP BY owners ORDER BY owners""".stripMargin)),

    // ------------------------------------------------------------------
    // q_substring_prune ★ (new r12) — the APPLY step of ExactSubstr
    // dedup (Lee et al. 2022 §3.2), completing the family: signal
    // (q_substring_cross) → cut-curve (q_substring_hist) → PRUNE. Per
    // document: how many tokens survive after removing every span
    // covered by a 13-gram window whose shingle has an EARLIER owner
    // (min owning doc_id < this doc) — the keep-first policy, so
    // exactly one copy of each cross-document duplicated span survives
    // corpus-wide, in its lowest-id (first-ingested) document.
    // Within-doc repetition is deliberately out of scope here (that is
    // q_substring_dedup / q_text_repetition's signal); this row prunes
    // CROSS-document copies only.
    //
    // Plan: positions matter (pruning is a token-COVERAGE union, not a
    // shingle count), so the explode is shinglesAll WITH posexplode —
    // window i covers tokens [i, i+12]. One corpus-wide min-owner agg
    // on the 8-byte hash (map-side combined), the equi-join back, then
    // the union of overlapping windows per doc via gaps-and-islands:
    // windows sorted by i merge while i − lag(i) < 14 (13-wide windows
    // overlap or touch), each island covering max(i) − min(i) + 13
    // tokens. The window function partitions by doc_id — per-doc
    // sorts of ≤ doc-length rows, never a global sort; every shuffle
    // is keyed on a long. Engine-exact integers throughout.
    QueryDef(
      "q_substring_prune",
      (s: SparkSession, dir: String) => {
        import graft.functions.Shingles.shinglesAll
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val win = docs
          .select(col("doc_id"),
            posexplode(shinglesAll(split(col("text"), " "), 13))
              .as(Seq("i0", "shs")))
          .select(col("doc_id"), (col("i0") + 1).as("i"),
            hash60(col("shs")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        win.count() // eager: min-owner agg + the rejoin both reuse it
        val owners = win.groupBy("h").agg(min("doc_id").as("min_owner"))
        val dup = win.join(owners, "h")
          .filter(col("min_owner") < col("doc_id"))
          .select(col("doc_id"), col("i"))
        val w = Window.partitionBy("doc_id").orderBy("i")
        val isl = dup
          .withColumn("brk",
            when(lag(col("i"), 1).over(w).isNull ||
              col("i") - lag(col("i"), 1).over(w) >= 14, 1L).otherwise(0L))
          .withColumn("isl", sum("brk").over(w))
        val pruned = isl.groupBy("doc_id", "isl")
          .agg((max(col("i")) - min(col("i")) + lit(13)).cast("long").as("cov"))
          .groupBy("doc_id").agg(sum("cov").as("n_pruned"))
        docs
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .join(pruned, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
            (col("n_tokens") - coalesce(col("n_pruned"), lit(0L))).as("n_kept"),
            divTrunc(coalesce(col("n_pruned"), lit(0L)) * 10000L,
              greatest(col("n_tokens"), lit(1L))).as("pruned_frac_e4"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |p0 AS (
             |  SELECT doc_id, unnest(range(1, len(ts)-11)) AS i, ts
             |  FROM t WHERE len(ts) >= 13),
             |p AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS i,
             |    substring(md5(array_to_string(ts[i:i+12], ' ')), 1, 15) AS h
             |  FROM p0),
             |own AS (SELECT h, MIN(doc_id) AS mo FROM p GROUP BY h),
             |dup AS (
             |  SELECT p.doc_id, p.i FROM p JOIN own ON p.h = own.h
             |  WHERE own.mo < p.doc_id),
             |d2 AS (
             |  SELECT doc_id, i,
             |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
             |      OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) >= 14
             |      THEN 1 ELSE 0 END AS brk
             |  FROM dup),
             |d3 AS (
             |  SELECT doc_id, i,
             |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isl
             |  FROM d2),
             |cov AS (
             |  SELECT doc_id, isl, MAX(i) - MIN(i) + 13 AS cov
             |  FROM d3 GROUP BY 1, 2),
             |pr AS (
             |  SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS n_pruned
             |  FROM cov GROUP BY 1)
             |SELECT t.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             |  COALESCE(n_pruned, 0) AS n_pruned,
             |  CAST(len(ts) AS BIGINT) - COALESCE(n_pruned, 0) AS n_kept,
             |  (COALESCE(n_pruned, 0) * 10000) //
             |    GREATEST(CAST(len(ts) AS BIGINT), 1) AS pruned_frac_e4
             |FROM t LEFT JOIN pr ON t.doc_id = pr.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_winnow ★ (new r13) — winnowing fingerprint selection (Schleimer,
    // Wilkerson & Aiken 2003, the MOSS algorithm): the third classic
    // fingerprinting family next to MinHash (q_minhash_dup) and full
    // positional shingling (q_substring_*). Winnowing keeps, from every
    // window of w=4 consecutive k=5-gram hashes, the MINIMUM (ties →
    // rightmost position, the paper's rule), giving the GUARANTEE the
    // other families lack: any shared run of ≥ w+k−1 = 8 tokens shares
    // at least one selected fingerprint, with expected density
    // 2/(w+1) = 0.4 — an index ~60% smaller than full shingling that
    // still catches every 8-token copy. Declared output is the per-doc
    // selection profile (gram/window/selected counts + density_e4) — a
    // fingerprint INDEX build would keep the selected keys themselves.
    // Tie-break is folded into the key: key = (h mod 2⁴⁰)·2²⁰ +
    // (2²⁰−1−i), so ONE integer min is the paper's (min hash,
    // rightmost) rule — engine-exact, no struct comparison. Headroom:
    // positions < 2²⁰ (1M tokens/doc; longer docs winnow per 1M-token
    // stripe with a w-overlap seam), key < 2⁶⁰.
    // Plan: posexplode of the gram stream; ONE doc-partitioned window
    // (ROWS CURRENT..3 FOLLOWING min — per-doc frames bounded by doc
    // length, never global); count-distinct after. Corpus-linear, all
    // shuffles keyed on doc_id.
    QueryDef(
      "q_winnow",
      (s: SparkSession, dir: String) => {
        val docs = Tables(s, dir, "documents")
        val toksD = split(col("text"), " ")
        val sel = winnowSelected(docs)
          .groupBy("doc_id")
          .agg(countDistinct("mk").as("n_selected"))
        docs
          .select(col("doc_id"),
            greatest(size(toksD).cast("long") - 4L, lit(0L)).as("n_grams"))
          .join(sel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            greatest(col("n_grams") - 3L, lit(0L)).as("n_windows"),
            coalesce(col("n_selected"), lit(0L)).as("n_selected"),
            when(col("n_grams") > 3L,
              divTrunc(coalesce(col("n_selected"), lit(0L)) * 10000L,
                col("n_grams") - 3L)).otherwise(lit(0L)).as("density_e4"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $WinnowSql,
             |agg AS (
             |  SELECT doc_id, CAST(COUNT(DISTINCT mk) AS BIGINT) AS n_selected
             |  FROM sel WHERE i <= ng - 3 GROUP BY 1)
             |SELECT t.doc_id,
             |  GREATEST(CAST(len(ts) - 4 AS BIGINT), 0) AS n_grams,
             |  GREATEST(CAST(len(ts) - 7 AS BIGINT), 0) AS n_windows,
             |  COALESCE(n_selected, 0) AS n_selected,
             |  CASE WHEN len(ts) - 4 > 3 THEN
             |    (COALESCE(n_selected, 0) * 10000) // CAST(len(ts) - 7 AS BIGINT)
             |  ELSE 0 END AS density_e4
             |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_winnow_dup ★ (new r13) — the winnowing APPLY: cross-document
    // shared-fingerprint detection, what MOSS actually does with the
    // selection (Schleimer et al. §1: report documents sharing selected
    // fingerprints). Per doc: its distinct selected HASHES (mk >> 20 —
    // position dropped for cross-doc identity), how many have an
    // EARLIER owner (min-owner < doc_id, the keep-first convention of
    // the whole dedup battery), and the shared fraction — ≥ one shared
    // fingerprint is guaranteed for any ≥ 8-token copy (the q_winnow
    // guarantee), at ~40% of the index size full shingling pays.
    // An exact duplicate of an earlier doc shares EVERY fingerprint
    // (identical grams AND positions → identical selections) —
    // shared_frac_e4 = 10000, spec-pinned on the corpus's planted
    // exact dups. Plan: the shared winnowSelected kernel → per-doc
    // distinct → ONE corpus-wide min-owner hash agg on the 40-bit hash
    // (map-side combined) → equi-join back → per-doc agg. No pair
    // stream anywhere (the ExactSubstr shape at winnowed density).
    QueryDef(
      "q_winnow_dup",
      (s: SparkSession, dir: String) => {
        val docs = Tables(s, dir, "documents")
        // r17 optimization: the min-owner is a window over the h
        // partition — the former groupBy + join-back re-shuffled the
        // fingerprint stream twice more for the same relation
        val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
        val agg = winnowSelected(docs)
          .select(col("doc_id"), shiftright(col("mk"), 20).as("h"))
          .distinct()
          .withColumn("mo", min("doc_id").over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fp"),
            sum(when(col("mo") < col("doc_id"), 1L).otherwise(0L))
              .as("n_shared"))
        docs.select(col("doc_id"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_fp"), lit(0L)).as("n_fp"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            divTrunc(coalesce(col("n_shared"), lit(0L)) * 10000L,
              greatest(coalesce(col("n_fp"), lit(0L)), lit(1L)))
              .as("shared_frac_e4"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $WinnowSql,
             |fp AS (
             |  SELECT DISTINCT doc_id, mk >> 20 AS h
             |  FROM sel WHERE i <= ng - 3),
             |own AS (SELECT h, MIN(doc_id) AS mo FROM fp GROUP BY 1),
             |agg AS (
             |  SELECT fp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
             |    CAST(SUM(CASE WHEN own.mo < fp.doc_id THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_shared
             |  FROM fp JOIN own ON fp.h = own.h GROUP BY 1)
             |SELECT t.doc_id, COALESCE(n_fp, 0) AS n_fp,
             |  COALESCE(n_shared, 0) AS n_shared,
             |  (COALESCE(n_shared, 0) * 10000) //
             |    GREATEST(COALESCE(n_fp, 0), 1) AS shared_frac_e4
             |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_dedup_normalized ★ (new r12) — canonicalization-before-dedup
    // (r11 verdict #2, the CCNet/Gopher normalize-then-hash step): the
    // whole shingle battery hashes RAW whitespace tokens, so near-dups
    // differing only in case / punctuation / digit literals evade every
    // Jaccard/MinHash/SimHash row. This query measures exactly that
    // blindness and its fix, on PLANTED variants built deterministically
    // from the corpus (both engines build the identical plant): per doc,
    // variant A appends a digit literal to every 13th token; variant B
    // appends a DIFFERENT digit literal there, uppercases every 7th
    // token, and suffixes a comma to every 11th — the realistic
    // mirrored-article delta. ~29% of tokens differ between A and B, so
    // their raw 3-gram Jaccard sits around 0.2: genuinely similar, but
    // below EVERY battery threshold — the raw pipeline emits no
    // candidate pair. Under [[graft.functions.NormalizeText]] (ASCII
    // lowercase → strip punct → fold digit runs → collapse whitespace)
    // the two variants become byte-identical, so normalized Jaccard is
    // exactly 10000: planted variants are caught ONLY via
    // normalization, which is the measured recall claim.
    //
    // Plan: the mangles are per-token index CASEs (an interpreted HOF
    // transform — fixture scaffolding, not engine hot path; the hot
    // path is NormalizeText + the codegen'd Shingles both variants
    // feed). Pairs are 1:1 by doc_id, so Jaccard needs NO pair search:
    // tag each variant's distinct shingle hashes, one (doc, hash)
    // presence agg, one per-doc agg — corpus-linear, two hash
    // shuffles, keyed on (doc_id, long). At 100 TB normalization is
    // one codegen'd byte pass fused into the document scan; the dedup
    // battery would simply shingle normalizeText(text) instead of
    // text.
    QueryDef(
      "q_dedup_normalized",
      (s: SparkSession, dir: String) => {
        import graft.functions.Shingles.shingles
        import graft.functions.NormalizeText.normalizeText
        val docs = Tables(s, dir, "documents")
        val va = expr("concat_ws(' ', transform(split(text, ' '), (w, i) -> " +
          "CASE WHEN i % 13 = 7 THEN concat(w, '9') ELSE w END))")
        val vb = expr("concat_ws(' ', transform(split(text, ' '), (w, i) -> " +
          "CASE WHEN i % 13 = 7 THEN concat(w, '123') " +
          "WHEN i % 7 = 0 THEN upper(w) " +
          "WHEN i % 11 = 3 THEN concat(w, ',') ELSE w END))")
        def shset(textCol: Column, a: Long, b: Long): DataFrame = docs
          .select(col("doc_id"),
            explode(shingles(split(textCol, " "), 3)).as("shs"))
          .select(col("doc_id"), hash60(col("shs")).as("h"),
            lit(a).as("in_a"), lit(b).as("in_b"))
        def jacOf(x: DataFrame, y: DataFrame, name: String): DataFrame =
          x.union(y)
            .groupBy("doc_id", "h")
            .agg(max("in_a").as("a"), max("in_b").as("b"))
            .groupBy("doc_id")
            .agg(sum(col("a") * col("b")).as("inter"),
              sum("a").as("na"), sum("b").as("nb"))
            .select(col("doc_id"),
              divTrunc(col("inter") * 10000L,
                greatest(col("na") + col("nb") - col("inter"), lit(1L)))
                .as(name))
        val raw = jacOf(shset(va, 1L, 0L), shset(vb, 0L, 1L), "jac_raw_e4")
        val norm = jacOf(shset(normalizeText(va), 1L, 0L),
          shset(normalizeText(vb), 0L, 1L), "jac_norm_e4")
        raw.join(norm, "doc_id")
          .select(col("doc_id"), col("jac_raw_e4"), col("jac_norm_e4"),
            when(col("jac_raw_e4") >= 6000L, 1L).otherwise(0L).as("caught_raw"),
            when(col("jac_norm_e4") >= 6000L, 1L).otherwise(0L).as("caught_norm"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |va AS (
             |  SELECT doc_id, array_to_string(list_transform(range(1, len(ts)+1),
             |    i -> CASE WHEN (i-1) % 13 = 7 THEN ts[i] || '9'
             |              ELSE ts[i] END), ' ') AS txt FROM t),
             |vb AS (
             |  SELECT doc_id, array_to_string(list_transform(range(1, len(ts)+1),
             |    i -> CASE WHEN (i-1) % 13 = 7 THEN ts[i] || '123'
             |              WHEN (i-1) % 7 = 0 THEN upper(ts[i])
             |              WHEN (i-1) % 11 = 3 THEN ts[i] || ','
             |              ELSE ts[i] END), ' ') AS txt FROM t),
             |nva AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
             |  regexp_replace(translate(txt, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[[:punct:]]', '', 'g'),
             |  '[0-9]+', '0', 'g'), '[[:space:]]+', ' ', 'g')) AS txt FROM va),
             |nvb AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
             |  regexp_replace(translate(txt, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[[:punct:]]', '', 'g'),
             |  '[0-9]+', '0', 'g'), '[[:space:]]+', ' ', 'g')) AS txt FROM vb),
             |sra AS (SELECT DISTINCT doc_id, substring(md5(shs),1,15) AS h FROM (
             |  SELECT doc_id, unnest(list_transform(
             |    range(1, len(string_split(txt,' '))-1),
             |    i -> array_to_string(string_split(txt,' ')[i:i+2], ' '))) AS shs
             |  FROM va)),
             |srb AS (SELECT DISTINCT doc_id, substring(md5(shs),1,15) AS h FROM (
             |  SELECT doc_id, unnest(list_transform(
             |    range(1, len(string_split(txt,' '))-1),
             |    i -> array_to_string(string_split(txt,' ')[i:i+2], ' '))) AS shs
             |  FROM vb)),
             |sna AS (SELECT DISTINCT doc_id, substring(md5(shs),1,15) AS h FROM (
             |  SELECT doc_id, unnest(list_transform(
             |    range(1, len(string_split(txt,' '))-1),
             |    i -> array_to_string(string_split(txt,' ')[i:i+2], ' '))) AS shs
             |  FROM nva)),
             |snb AS (SELECT DISTINCT doc_id, substring(md5(shs),1,15) AS h FROM (
             |  SELECT doc_id, unnest(list_transform(
             |    range(1, len(string_split(txt,' '))-1),
             |    i -> array_to_string(string_split(txt,' ')[i:i+2], ' '))) AS shs
             |  FROM nvb)),
             |jr AS (
             |  SELECT doc_id,
             |    (CAST(SUM(a*b) AS BIGINT) * 10000) // GREATEST(
             |      CAST(SUM(a) + SUM(b) - SUM(a*b) AS BIGINT), 1) AS jac_raw_e4
             |  FROM (SELECT doc_id, h, MAX(in_a) AS a, MAX(in_b) AS b FROM (
             |    SELECT doc_id, h, 1 AS in_a, 0 AS in_b FROM sra
             |    UNION ALL
             |    SELECT doc_id, h, 0 AS in_a, 1 AS in_b FROM srb)
             |   GROUP BY 1, 2) GROUP BY doc_id),
             |jn AS (
             |  SELECT doc_id,
             |    (CAST(SUM(a*b) AS BIGINT) * 10000) // GREATEST(
             |      CAST(SUM(a) + SUM(b) - SUM(a*b) AS BIGINT), 1) AS jac_norm_e4
             |  FROM (SELECT doc_id, h, MAX(in_a) AS a, MAX(in_b) AS b FROM (
             |    SELECT doc_id, h, 1 AS in_a, 0 AS in_b FROM sna
             |    UNION ALL
             |    SELECT doc_id, h, 0 AS in_a, 1 AS in_b FROM snb)
             |   GROUP BY 1, 2) GROUP BY doc_id)
             |SELECT jr.doc_id, jr.jac_raw_e4, jn.jac_norm_e4,
             |  CAST(CASE WHEN jr.jac_raw_e4 >= 6000 THEN 1 ELSE 0 END AS BIGINT)
             |    AS caught_raw,
             |  CAST(CASE WHEN jn.jac_norm_e4 >= 6000 THEN 1 ELSE 0 END AS BIGINT)
             |    AS caught_norm
             |FROM jr JOIN jn USING (doc_id)
             |ORDER BY jr.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_fuzzy_match ★ (new r5) — approximate-string record linkage over
    // the corpus vocabulary: every token pair within edit distance ≤ 2,
    // with corpus frequencies and the frequency-canonical form — the
    // spell-variant / near-key matching kernel of entity resolution
    // ("Acme Corp" vs "Acme Corp.") and of OCR/typo normalization in a
    // training-data pipeline. The all-pairs levenshtein is made
    // sub-quadratic by SYMSPELL DELETION-NEIGHBORHOOD BLOCKING
    // (r11; was length-band blocking): ed ≤ 2 forces the two words to
    // share a common ≤2-deletion variant (pigeonhole over an optimal
    // alignment — proof in [[graft.functions.DeletionVariants]]), so
    // each vocabulary word explodes to its 1 + L + L(L−1)/2 deletion
    // keys and candidates are an equi-join on the key. Length bands
    // kept ~(V/bands)² pairs per band — every near-length pair reached
    // the levenshtein (measured gen-sf1: 145.8 s, ~10⁸ candidates);
    // deletion keys are selective (a bucket is the words that SHARE a
    // subsequence, not a length), and only genuine near-neighbors plus
    // rare same-key impostors reach the verify. A pair can share many
    // keys, so candidates dedup on the bare word pair BEFORE the
    // verify (the jaccardPairs lesson: dedup thin rows, join wide data
    // back after — here c1/c2 ride along, vocabulary-sized either
    // way). Plan: one corpus→vocabulary agg (map-side combined,
    // persisted — both join branches consume it), then a
    // vocabulary-sized key join — never corpus²; at 100 TB vocabulary
    // ≪ corpus and both key-join sides shuffle vocabulary-scale rows.
    // The canonical column implements the merge direction (variant →
    // most frequent form) a normalization pass applies.
    // WORD-LENGTH CAP (r15): the deletion fan-out is 1 + L + L(L−1)/2
    // keys of ~L bytes — QUADRATIC in word length, and a single
    // 520-byte blob token (URL, base64, DNA) costs ~135k × 519-byte
    // keys (measured: one such token burned 338 s CPU on an 8-doc
    // fixture). Words over 24 UTF-8 bytes are excluded in BOTH engines
    // — typo/OCR variant mining is a natural-word operation; blob
    // tokens are whole-token identities for the exact-dedup family,
    // not typo candidates. Distance is over UTF-8 BYTES in both
    // engines (see the bf note in the body).
    QueryDef(
      "q_fuzzy_match",
      (s: SparkSession, dir: String) => {
        val vLazy = Tables(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(octet_length(col("w")) <= 24) // the word-length cap —
          // bounds the quadratic deletion fan-out; see the scaladoc
          .groupBy("w").agg(count(lit(1)).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val v = { vLazy.count(); vLazy }
        val keyed = v.select(col("w"), col("c"),
          explode(graft.functions.DeletionVariants.deletionVariants(col("w"), 2))
            .as("k"))
        val cand = keyed.as("a")
          .join(keyed.as("b"),
            col("a.k") === col("b.k") && col("a.w") < col("b.w"))
          .select(col("a.w").as("w1"), col("a.c").as("c1"),
            col("b.w").as("w2"), col("b.c").as("c2"))
          .distinct()
        // edit distance over UTF-8 BYTES (what DuckDB/Postgres
        // levenshtein natively computes; Spark's is codepoint-based —
        // they diverge on any non-ASCII word, caught r15 by the planted
        // unicode fixture). The latin-1 re-decode views each byte as
        // one char, so Spark's levenshtein computes the byte distance.
        // Blocking stays lossless: byte-lev ≤ 2 ⇒ codepoint-lev ≤ 2
        // (k byte edits touch ≤ k chars), and the char-deletion-variant
        // candidates cover codepoint-lev ≤ 2.
        def bf(c: Column) = decode(encode(c, "UTF-8"), "ISO-8859-1")
        cand
          .filter(levenshtein(bf(col("w1")), bf(col("w2"))) <= 2)
          .select(col("w1"), col("w2"),
            levenshtein(bf(col("w1")), bf(col("w2"))).as("dist"),
            col("c1"), col("c2"),
            when(col("c1") >= col("c2"), col("w1")).otherwise(col("w2"))
              .as("canonical"))
          .orderBy("dist", "w1", "w2")
      },
      Some("""WITH v AS (
             |  SELECT w, COUNT(*) AS c FROM (
             |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE strlen(w) <= 24
             |  GROUP BY 1)
             |SELECT a.w AS w1, b.w AS w2,
             |  CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist,
             |  a.c AS c1, b.c AS c2,
             |  CASE WHEN a.c >= b.c THEN a.w ELSE b.w END AS canonical
             |FROM v a JOIN v b ON a.w < b.w
             |WHERE abs(strlen(a.w) - strlen(b.w)) <= 2
             |  AND levenshtein(a.w, b.w) <= 2
             |ORDER BY dist, w1, w2""".stripMargin)),

    // ------------------------------------------------------------------
    // q_contamination_matrix ★ (new r5) — cross-SOURCE contamination:
    // for every source pair, how many distinct 13-gram shingles they
    // share and the containment of the smaller side, in exact e6 —
    // q_decontaminate generalized from "is my eval set in the training
    // corpus" to "which of my N datasets copy from each other", the
    // inter-dataset hygiene matrix a mixture pipeline consults before
    // weighting sources (a source that is 30% contained in another is
    // double-counting its tokens). Plan: corpus → DISTINCT (source,
    // shingle) compression FIRST (the corpus-linear move — per-source
    // shingle vocabularies, duplicates inside a source collapse before
    // any join), then a shingle-keyed self-join whose per-key fan-out
    // is bounded by #sources-containing-it ≤ |sources| (never corpus),
    // one pair agg (≤ |sources|² rows), per-source totals broadcast
    // back. Only pairs sharing ≥ 1 shingle appear (inner-join
    // semantics; absent pair ⇒ containment 0). Same md5-60 shingle
    // keys as the whole dedup family — one hash function everywhere.
    QueryDef(
      "q_contamination_matrix",
      (s: SparkSession, dir: String) => {
        import graft.functions.Shingles.shingles
        val sh = Tables(s, dir, "documents")
          .select(col("source"),
            explode(shingles(split(col("text"), " "), 13)).as("sg"))
          .select(col("source"), hash60(col("sg")).as("h"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sh.count() // eager: totals + both join sides reuse it
        val per = sh.groupBy("source").agg(count(lit(1)).as("n"))
        sh.as("a")
          .join(sh.as("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(per.select(col("source").as("src_a"), col("n").as("n_a"))),
            "src_a")
          .join(broadcast(per.select(col("source").as("src_b"), col("n").as("n_b"))),
            "src_b")
          .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
            col("n_b"),
            divTrunc(col("n_shared") * 1000000L, least(col("n_a"), col("n_b")))
              .as("containment_e6"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH t13 AS (
             |  SELECT source, unnest(list_distinct(list_transform(
             |    range(1, len(string_split(text,' ')) - 11),
             |    i -> array_to_string(string_split(text,' ')[i:i+12], ' ')))) AS s0
             |  FROM documents WHERE len(string_split(text,' ')) >= 13),
             |h AS (SELECT DISTINCT source, substring(md5(s0),1,15) AS h FROM t13),
             |per AS (SELECT source, COUNT(*) AS n FROM h GROUP BY 1),
             |p AS (
             |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
             |  FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT p.src_a, p.src_b, CAST(p.n_shared AS BIGINT) AS n_shared,
             |  CAST(pa.n AS BIGINT) AS n_a, CAST(pb.n AS BIGINT) AS n_b,
             |  CAST((p.n_shared * 1000000) // LEAST(pa.n, pb.n) AS BIGINT)
             |    AS containment_e6
             |FROM p JOIN per pa ON p.src_a = pa.source
             |       JOIN per pb ON p.src_b = pb.source
             |ORDER BY src_a, src_b""".stripMargin)),

    // ------------------------------------------------------------------
    // pipeline_e2e ★ (new r13; r15: paragraph-aware) — the CURATION
    // PIPELINE COMPOSED into one declared query (r12 verdict #7):
    // paragraph dedup (CCNet stage 1, AHEAD of normalization — r14
    // verdict #5) → normalize → quality gate → exact-dedup prune
    // (canonicalize-then-hash, the q_dedup_normalized insight
    // operationalized) → content-addressed leakage-safe split →
    // 512-token sequence packing, with the stage funnel (docs/tokens
    // surviving each stage) and per-split pack counts as the declared
    // output — the monitoring table a real 100 TB curation run emits,
    // proving the stages compose with NO driver round-trip between
    // them (one plan, submitted once).
    //
    // The at-scale move: the TEXT is projected away immediately after
    // normalization — everything downstream (dedup identity, split
    // assignment, packing) runs on (doc_id, md5 fingerprint, token
    // counts), a ~60-byte row, and THAT narrow frame is what the
    // multi-consumer persist holds (the PERF_NOTES race rule), never
    // the corpus. Stages:
    //  1. paragraph dedup (r15): the [[paraChunks]] keep-first kernel
    //     (corpus-wide MIN owner on the 60-bit chunk hash), then the
    //     q_paragraph_apply reassembly — downstream stages consume the
    //     SURVIVING text only; a doc whose every paragraph is
    //     boilerplate vanishes here. Raw/kept funnel rows count RAW
    //     tokens (normalization hasn't run yet);
    //  2. normalize: the codegen'd [[graft.functions.NormalizeText]]
    //     byte pass over the kept text;
    //  3. quality gate: ≥ 10 normalized tokens AND ≥ half distinct
    //     (exact integers — the q_quality_grad pseudo-label rule);
    //  4. dedup-prune: per near-dup CLUSTER ([[ccLabelTable]] — the
    //     battery's shared ≥0.6-Jaccard CC relation over the ORIGINAL
    //     docs, read AT REST, the "reads the materialized tables"
    //     composition the verdict asked for), keep the minimum-doc_id
    //     GATED member — survivor policy restricted to gate survivors,
    //     so a cluster whose canonical copy was dropped for quality
    //     still keeps exactly one (its best-id) member;
    //  5. split: 60-bit fingerprint mod 100 → 90/5/5 — CONTENT-
    //     addressed, so identical content lands in one split across
    //     corpus versions and re-runs, the leakage-safe property
    //     (q_split_leakage_safe covers the assign-by-cluster variant);
    //  6. pack: q_pack_sequences' rule (window prefix-sum, bin =
    //     cum-before // 512) per split partition.
    // Oracle: the identical six stages in SQL — the paragraph stage
    // via the shared [[ParaSql]] CTE chain, normalization via the
    // spec-pinned regex-chain equivalent of the byte pass, clustering
    // via the battery's shared recursive-CTE fragment (CcSql), so the
    // pipeline's paragraph and cluster relations provably ARE the
    // battery's.
    QueryDef(
      "pipeline_e2e",
      (s: SparkSession, dir: String) => {
        import graft.functions.NormalizeText.normalizeText
        import org.apache.spark.sql.expressions.Window
        val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val paras = paraChunks(Tables(s, dir, "documents")).persist(mem)
        paras.count() // raw funnel row + owner agg + rejoin reuse it
        var perDocP: DataFrame = null
        try {
        val own = paras.groupBy("h").agg(min("ok").as("mo"))
        val keptDoc = paras.join(own, "h").filter(col("ok") === col("mo"))
          .groupBy("doc_id")
          .agg(sum("n_toks").as("rawtoks"),
            array_join(transform(
              array_sort(collect_list(struct(col("ok"), col("chunk")))),
              x => x.getField("chunk")), " ").as("ktext"))
        val ts = split(col("nt"), " ")
        val perDoc = keptDoc
          .select(col("doc_id"), col("rawtoks"),
            normalizeText(col("ktext")).as("nt"))
          .select(col("doc_id"), col("rawtoks"), md5(col("nt")).as("fp"),
            size(ts).cast("long").as("toks"),
            size(array_distinct(ts)).cast("long").as("dtoks"))
          .persist(mem)
        perDocP = perDoc
        perDoc.count() // materialize once for the multi-stage consumers
        val gated = perDoc
          .filter(col("toks") >= 10 && col("dtoks") * 2 >= col("toks"))
        val lbl = ccLabelTable(s, dir).select(col("doc_id"), col("cluster_id"))
        val surv = gated.join(lbl, Seq("doc_id"), "left")
          .withColumn("k", coalesce(col("cluster_id"), col("doc_id")))
          .groupBy("k")
          .agg(min(struct(col("doc_id"), col("toks"), col("fp"))).as("m"))
          .select(col("m.doc_id").as("doc_id"), col("m.toks").as("toks"),
            col("m.fp").as("fp"))
        val h100 = pmod(
          conv(substring(col("fp"), 1, 15), 16, 10).cast("long"), lit(100L))
        val sp = surv.select(col("doc_id"), col("toks"),
          when(h100 < 90, "train").when(h100 < 95, "val")
            .otherwise("test").as("split"))
        val w = Window.partitionBy("split").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val packed = sp.withColumn("cum", sum("toks").over(w))
          .select(col("split"), col("toks"),
            graft.functions.ExactMath
              .divTrunc(col("cum") - col("toks"), lit(512L)).as("bin"))
        val splitRows = packed.groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
            (max("bin") + 1L).as("n_bins"))
          .select(concat(lit("4_split_"), col("split")).as("stage"),
            col("n_docs"), col("n_tokens"), col("n_bins"))
        def funnel(df: DataFrame, stage: String) = df
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
          .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"),
            lit(0L).as("n_bins"))
        val full = funnel(
            paras.groupBy("doc_id").agg(sum("n_toks").as("toks")),
            "0_raw")
          .unionByName(funnel(
            perDoc.select(col("doc_id"), col("rawtoks").as("toks")),
            "1_paradedup"))
          .unionByName(funnel(gated, "2_quality"))
          .unionByName(funnel(surv, "3_dedup"))
          .unionByName(splitRows)
          .orderBy("stage")
        // the funnel is ledger-sized (4 + |splits| rows): materialize
        // it INSIDE the persist scope so the finally's unpersists
        // cannot force a cache-less recompute when the consumer
        // evaluates (r16: the r15-ADVICE leak fix alone had cost
        // +0.75 s min-basis exactly that way)
        val rows = full.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), full.schema)
        } finally { // the sibling paragraph rows' rule: never leak cache
          paras.unpersist(blocking = false)
          if (perDocP != null) { perDocP.unpersist(blocking = false); () }
        }
      },
      Some(s"""WITH RECURSIVE $ShSql,
             |$JacSql,
             |$CcSql,
             |$ParaSql,
             |ka AS (
             |  SELECT pch.doc_id, CAST(SUM(n_toks) AS BIGINT) AS rawtoks,
             |    string_agg(chunk, ' ' ORDER BY ok) AS ktext
             |  FROM pch JOIN pown ON pch.h = pown.h AND pch.ok = pown.mo
             |  GROUP BY 1),
             |nn AS (
             |  SELECT doc_id, rawtoks, trim(regexp_replace(regexp_replace(
             |    regexp_replace(translate(ktext, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[[:punct:]]', '', 'g'),
             |    '[0-9]+', '0', 'g'), '[[:space:]]+', ' ', 'g')) AS nt
             |  FROM ka),
             |p AS (
             |  SELECT doc_id, rawtoks, md5(nt) AS fp,
             |    CAST(len(string_split(nt, ' ')) AS BIGINT) AS toks,
             |    CAST(len(list_distinct(string_split(nt, ' '))) AS BIGINT) AS dtoks
             |  FROM nn),
             |g AS (SELECT * FROM p WHERE toks >= 10 AND dtoks * 2 >= toks),
             |sv AS (
             |  SELECT COALESCE(lbl.cluster_id, g.doc_id) AS k,
             |    g.doc_id, g.toks, g.fp
             |  FROM g LEFT JOIN lbl ON g.doc_id = lbl.doc_id),
             |s AS (SELECT MIN(doc_id) AS doc_id, arg_min(toks, doc_id) AS toks,
             |        arg_min(fp, doc_id) AS fp
             |      FROM sv GROUP BY k),
             |sp AS (SELECT doc_id, toks,
             |  CASE WHEN ('0x' || substring(fp, 1, 15))::BIGINT % 100 < 90 THEN 'train'
             |       WHEN ('0x' || substring(fp, 1, 15))::BIGINT % 100 < 95 THEN 'val'
             |       ELSE 'test' END AS split
             |  FROM s),
             |pk AS (SELECT split, toks,
             |  SUM(toks) OVER (PARTITION BY split ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM sp),
             |sr AS (SELECT '4_split_' || split AS stage,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
             |  CAST(MAX((cum - toks) // 512) + 1 AS BIGINT) AS n_bins
             |  FROM pk GROUP BY split)
             |SELECT '0_raw' AS stage,
             |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS n_bins
             |FROM pch
             |UNION ALL SELECT '1_paradedup', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(rawtoks) AS BIGINT), CAST(0 AS BIGINT) FROM ka
             |UNION ALL SELECT '2_quality', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(toks) AS BIGINT), CAST(0 AS BIGINT) FROM g
             |UNION ALL SELECT '3_dedup', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(toks) AS BIGINT), CAST(0 AS BIGINT) FROM s
             |UNION ALL SELECT * FROM sr
             |ORDER BY stage""".stripMargin)),

    // ------------------------------------------------------------------
    // q_paragraph_dedup ★ (new r14) — CCNet STAGE 1 (Wenzek et al. 2020
    // §3.1): before any document-level scoring, hash every PARAGRAPH
    // and drop every duplicated paragraph corpus-wide, keeping only its
    // first occurrence — the granularity that strips boilerplate
    // (headers, nav bars, license blocks) which doc-level (q_dedup_*)
    // and span-level (q_substring_prune) dedup straddle. Keep-first is
    // the paper's rule: one copy of each paragraph survives, in its
    // lowest-(doc_id, position) occurrence — folded into ONE long key
    // ok = doc_id·2²⁰ + pid so a single MIN is the (doc, pos) lexmin
    // (headroom: pid < 2²⁰ = 1M paragraphs/doc, doc_id < 2⁴³).
    // Paragraph boundary: this fixture's text is single-line (no \n),
    // so the unit is the deterministic 12-token non-overlapping chunk
    // (the q_chunk_overlap boundary proxy); a newline-delimited corpus
    // swaps split(text, '\n\n') into the same plan — everything below
    // is boundary-agnostic. Declared output is the per-doc survival
    // profile (paragraph/token counts kept vs dropped) a curation run
    // reads before the doc-level stages; an APPLY would keep the
    // surviving paragraph text itself.
    // Plan: one corpus-linear chunk explode (≤⌈n/12⌉ rows/doc), one
    // corpus-wide min agg on the 8-byte hash (map-side combined), the
    // equi-join back, one doc-keyed agg — the q_substring_prune shape
    // one level up, minus islands (paragraphs don't overlap). Every
    // shuffle is keyed on a long; nothing quadratic anywhere.
    QueryDef(
      "q_paragraph_dedup",
      (s: SparkSession, dir: String) => {
        val paras = paraChunks(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("ok"), col("h"), col("n_toks"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        paras.count() // eager: the min-owner agg + the rejoin reuse it
        try {
          val own = paras.groupBy("h").agg(min("ok").as("mo"))
          paras.join(own, "h")
            .withColumn("keep", when(col("ok") === col("mo"), 1L).otherwise(0L))
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_paras"),
              sum(lit(1L) - col("keep")).as("n_dup_paras"),
              sum("n_toks").as("n_tokens"),
              sum(col("keep") * col("n_toks")).as("n_tokens_kept"))
            .withColumn("kept_frac_e4",
              divTrunc(col("n_tokens_kept") * 10000L,
                greatest(col("n_tokens"), lit(1L))))
            .orderBy("doc_id")
        } finally paras.unpersist(blocking = false)
      },
      Some(s"""WITH $ParaSql
             |SELECT pch.doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_paras,
             |  CAST(SUM(CASE WHEN ok = mo THEN 0 ELSE 1 END) AS BIGINT)
             |    AS n_dup_paras,
             |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             |  CAST(SUM(CASE WHEN ok = mo THEN n_toks ELSE 0 END) AS BIGINT)
             |    AS n_tokens_kept,
             |  (CAST(SUM(CASE WHEN ok = mo THEN n_toks ELSE 0 END) AS BIGINT)
             |    * 10000) // GREATEST(CAST(SUM(n_toks) AS BIGINT), 1)
             |    AS kept_frac_e4
             |FROM pch JOIN pown ON pch.h = pown.h
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q_paragraph_apply ★ (new r15, r14 verdict #5) — the APPLY of
    // CCNet stage 1: where q_paragraph_dedup emits the survival
    // PROFILE, this row reconstructs each document's surviving TEXT
    // under the same keep-first rule (the [[paraChunks]] kernel — one
    // boundary + hash + owner scheme, so profile and apply can never
    // drift), which is the frame every doc-level stage downstream
    // actually consumes (pipeline_e2e swaps this in ahead of
    // normalization). A document whose every paragraph is a duplicate
    // keeps zero chunks and VANISHES (CCNet drops it — there is no
    // text left to score). Declared output: doc_id, kept paragraph /
    // token counts, and the reassembled text.
    // Plan: the q_paragraph_dedup shape (corpus-linear chunk explode,
    // corpus-wide MIN owner, equi-join back) plus one doc-keyed
    // ordered reassembly — array_sort over the PER-DOC kept chunk
    // structs (bounded by the doc's own paragraph count, never
    // corpus-global) then a codegen'd join+transform. No new shuffle
    // class vs the profile; the only extra bytes are the kept chunk
    // text riding the doc-keyed exchange it already needed.
    QueryDef(
      "q_paragraph_apply",
      (s: SparkSession, dir: String) => {
        val paras = paraChunks(Tables(s, dir, "documents"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        paras.count() // eager: the min-owner agg + the rejoin reuse it
        try {
          val own = paras.groupBy("h").agg(min("ok").as("mo"))
          paras.join(own, "h").filter(col("ok") === col("mo"))
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_paras_kept"),
              sum("n_toks").as("n_tokens_kept"),
              array_join(transform(
                array_sort(collect_list(struct(col("ok"), col("chunk")))),
                x => x.getField("chunk")), " ").as("text"))
            .orderBy("doc_id")
        } finally paras.unpersist(blocking = false)
      },
      Some(s"""WITH $ParaSql
             |SELECT pch.doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_paras_kept,
             |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens_kept,
             |  string_agg(chunk, ' ' ORDER BY ok) AS text
             |FROM pch JOIN pown ON pch.h = pown.h AND pch.ok = pown.mo
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q_source_manifest ★ (new r14) — the FineWeb-style per-source
    // DECISION TABLE: every curation signal the battery computes,
    // rolled up to the grain a curation run actually makes decisions at
    // (keep/drop/down-weight a SOURCE). One row per source joining:
    //   keep_e4   — learned-classifier keep rate (qcScoreE6 ≥ 0, the
    //               q_quality_classifier rule);
    //   dup_e4    — near-dup rate: docs that are cluster
    //               NON-representatives in the materialized ≥0.6-Jaccard
    //               CC relation (q_dedup_canonical's survivor policy);
    //   head_e4   — share of docs in the CCNet head bucket (ntile(3)
    //               per lang over lm_score_e4, q_perplexity_bucket's
    //               cut);
    //   contam_e4 — decontamination: share of TRAIN docs (doc_id ≥ 20,
    //               q_decontaminate's eval proxy) sharing ≥1 distinct
    //               13-gram with the eval set.
    // Every input is a SHARED kernel (qcScoreE6 / lmScoreFrame /
    // ccLabelTable / the 13-gram scheme) — this row adds no new
    // semantics, it proves the signals compose into one manifest, at
    // rest: the classifier fold is map-only, the CC and LM frames read
    // materialized corpus tables, and the only new work is doc-keyed
    // equi-joins + one ~20-group agg. At 100 TB each flag column
    // already exists as a doc-level table; the manifest is a single
    // scan-join-agg over them — nothing quadratic, nothing global but
    // the ≤|sources| sort.
    QueryDef(
      "q_source_manifest",
      (s: SparkSession, dir: String) => {
        import graft.functions.Shingles.shingles
        import graft.queries.TextQueries.{lmScoreFrame, qcScoreE6}
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val base = docs.select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          qcScoreE6.as("z"))
        val lbl = ccLabelTable(s, dir)
        val dupDocs = lbl
          .withColumn("rep", min("doc_id")
            .over(Window.partitionBy("cluster_id")))
          .filter(col("doc_id") =!= col("rep"))
          .select(col("doc_id"), lit(1L).as("is_dup"))
        val w = Window.partitionBy("lang")
          .orderBy(col("lm_score_e4").desc, col("doc_id"))
        val head = lmScoreFrame(s, dir)
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("doc_id"),
            when(ntile(3).over(w) === 1, 1L).otherwise(0L).as("is_head"))
        def sh13(df: DataFrame) = df
          .select(col("doc_id"),
            explode(shingles(split(col("text"), " "), 13)).as("g"))
          .select(col("doc_id"), hash60(col("g")).as("h"))
        val evalH = sh13(docs.filter(col("doc_id") < 20))
          .select("h").distinct()
        val contam = sh13(docs.filter(col("doc_id") >= 20))
          .join(broadcast(evalH), "h")
          .select("doc_id").distinct()
          .withColumn("is_contam", lit(1L))
        base
          .join(dupDocs, Seq("doc_id"), "left")
          .join(head, Seq("doc_id"), "left")
          .join(contam, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
            sum(when(col("z") >= 0L, 1L).otherwise(0L)).as("qc_keep"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"),
            sum(coalesce(col("is_head"), lit(0L))).as("n_head"),
            sum(when(col("doc_id") >= 20, 1L).otherwise(0L)).as("n_train"),
            sum(coalesce(col("is_contam"), lit(0L))).as("n_contam"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            divTrunc(col("qc_keep") * 10000L, col("n_docs")).as("keep_e4"),
            divTrunc(col("n_dup") * 10000L, col("n_docs")).as("dup_e4"),
            divTrunc(col("n_head") * 10000L, col("n_docs")).as("head_e4"),
            divTrunc(col("n_contam") * 10000L,
              greatest(col("n_train"), lit(1L))).as("contam_e4"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE $ShSql,
             |$JacSql,
             |$CcSql,
             |${graft.queries.TextQueries.QcScoreSql},
             |${graft.queries.TextQueries.NgramLmSql},
             |mf_base AS (
             |  SELECT doc_id, source, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |mf_dup AS (
             |  SELECT doc_id FROM (
             |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY cluster_id)
             |      AS rep
             |    FROM lbl) WHERE doc_id <> rep),
             |mf_head AS (
             |  SELECT lm.doc_id,
             |    CASE WHEN ntile(3) OVER (PARTITION BY b.lang
             |      ORDER BY lm.lm_score_e4 DESC, lm.doc_id) = 1
             |      THEN 1 ELSE 0 END AS is_head
             |  FROM lm JOIN mf_base b ON lm.doc_id = b.doc_id),
             |mf_g13 AS (
             |  SELECT doc_id, substring(md5(g), 1, 15) AS h FROM (
             |    SELECT doc_id, unnest(list_distinct(list_transform(
             |      range(1, len(string_split(text,' ')) - 11),
             |      i -> array_to_string(string_split(text,' ')[i:i+12], ' '))))
             |      AS g
             |    FROM documents WHERE len(string_split(text,' ')) >= 13)),
             |mf_ev AS (SELECT DISTINCT h FROM mf_g13 WHERE doc_id < 20),
             |mf_ct AS (
             |  SELECT DISTINCT g.doc_id FROM mf_g13 g
             |  JOIN mf_ev e ON g.h = e.h WHERE g.doc_id >= 20),
             |mf AS (
             |  SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(b.n_tokens) AS BIGINT) AS n_tokens,
             |    CAST(SUM(CASE WHEN sc.z >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS qc_keep,
             |    CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_dup,
             |    CAST(SUM(h.is_head) AS BIGINT) AS n_head,
             |    CAST(SUM(CASE WHEN b.doc_id >= 20 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_train,
             |    CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_contam
             |  FROM mf_base b
             |  JOIN sc ON b.doc_id = sc.doc_id
             |  JOIN mf_head h ON b.doc_id = h.doc_id
             |  LEFT JOIN mf_dup d ON b.doc_id = d.doc_id
             |  LEFT JOIN mf_ct c ON b.doc_id = c.doc_id
             |  GROUP BY 1)
             |SELECT source, n_docs, n_tokens,
             |  (qc_keep * 10000) // n_docs AS keep_e4,
             |  (n_dup * 10000) // n_docs AS dup_e4,
             |  (n_head * 10000) // n_docs AS head_e4,
             |  (n_contam * 10000) // GREATEST(n_train, 1) AS contam_e4
             |FROM mf ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // lake_dedup_index_e2e ★ (new r14) — CROSS-VERSION dedup-index
    // maintenance: q_dedup_incremental dedups one batch against an
    // index it (re)derives in-corpus; the production shape is an index
    // that LIVES IN THE LAKE across corpus versions — a new crawl's
    // fingerprints probe the at-rest index, then MERGE into it
    // (LakeOps.upsert), and version 1 is never recomputed. Scenario on
    // the real documents table (T = the 4/5 cutoff, the
    // q_dedup_incremental rule):
    //   1. build v1's per-doc sorted 3-shingle hash sets (doc_id < T)
    //      and COMMIT them as a partitioned lake table;
    //   2. v2 arrives (doc_id ≥ T): compute ITS sets only — O(batch) —
    //      read v1's sets AT REST (require()d: the probe plan's input
    //      files are the lake table's parquet), PPJoin-probe with
    //      d2 ≥ T, count batch docs with a ≥0.6-Jaccard match;
    //   3. MERGE v2's rows + one re-crawled v1 doc into the index
    //      (copy-on-write upsert keyed on doc_id; the re-crawl
    //      exercises the UPDATE path — replaced, not duplicated);
    //   4. parity: the merged at-rest index must be row-for-row
    //      identical to a from-scratch rebuild (full-outer join on
    //      doc_id, array-equality on hs; the rebuild is this row's
    //      VERIFICATION, not the production path).
    // The index design is what makes cross-version maintenance sound:
    // sets are sorted by HASH — a version-independent global order —
    // so each doc's PPJoin prefix is just its first n−⌈t·n⌉+1 at-rest
    // hashes, lossless for the threshold with NO corpus-wide
    // df-reranking per merge (df-rank prefixes are a candidate-count
    // optimization that would drift across versions; hash-rank pays a
    // few more candidates for an index that merges by pure append/
    // replace). Partition key pb = doc_id mod 4 — a stable function of
    // the merge key, the upsert contract — so a merge rewrites only
    // touched partitions. Exact-Jaccard verify makes the pair relation
    // identical to the oracle's jac regardless of prefix choice.
    // At 100 TB: step-2 cost is O(batch + candidates); the index is
    // corpus-linear at rest; nothing old×old ever re-runs.
    QueryDef(
      "lake_dedup_index_e2e",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        import graft.functions.Shingles.shingles
        import graft.sink.{HiveParquetWriter, LakeOps}
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft_dix_")
        val tableDir = tmpRoot.toString + "/warehouse/jacindex"
        try {
          val docs = Tables(s, dir, "documents")
          // null-safe (r17 empty/single sweep): no docs → no max id
          val maxId = docs.agg(max("doc_id")).collect()(0)
            .get(0) match { case null => -1L; case v => v.asInstanceOf[Long] }
          val t = (4L * (maxId + 1L)) / 5L
          def setsOf(d: DataFrame): DataFrame = d
            .select(col("doc_id"),
              explode(shingles(split(col("text"), " "), 3)).as("sg"))
            .select(col("doc_id"), hash60(col("sg")).as("h"))
            .groupBy("doc_id").agg(sort_array(collect_set(col("h"))).as("hs"))
            .select(col("doc_id"), size(col("hs")).cast("long").as("n"),
              col("hs"), (col("doc_id") % 4L).cast("string").as("pb"))
          def withPrefix(sets: DataFrame): DataFrame = sets
            .withColumn("prefix", slice(col("hs"), lit(1),
              (col("n") - ceilDiv(col("n") * 6000L, lit(10000L)) + 1L)
                .cast("int")))
          val w = new HiveParquetWriter
          // ONE corpus shingle pass (r18, r17 verdict #4): setsOf is
          // per-doc, so every slice this scenario needs — v1 (< t), the
          // batch (≥ t), the re-crawled doc, and the parity rebuild
          // (all docs) — is a FILTER of the same frame; the scenario
          // used to run the explode+groupBy 4× (≈3 full corpus passes).
          // Eagerly localCheckpointed: multi-consumer leaves, the same
          // plan-truncation rationale as the batch/union checkpoints.
          val allSets = Ckpt.boundary(setsOf(docs))
          val v1 = allSets.filter(col("doc_id") < t)
          val c1 = w.append(v1, Seq("pb"), tableDir)
          // step 2 — the at-rest probe: v1 sets come off the lake table,
          // not a recompute (asserted on the actual scan inputs). A
          // degenerate corpus whose v1 half is EMPTY has no index to
          // probe (the Q10 rule: an empty append commits no snapshot) —
          // the probe side is then the empty sets frame (r17 sweep).
          val atRest = if (c1.rows > 0) {
            val at = LakeOps.readTable(s, tableDir)
              .select(col("doc_id"), col("n"), col("hs"))
            require(at.inputFiles.nonEmpty &&
              at.inputFiles.forall(_.contains("jacindex")),
              "v1 index must be read from the lake table")
            at
          } else v1.select(col("doc_id"), col("n"), col("hs")).limit(0)
          val batch = allSets.filter(col("doc_id") >= t)
          // ONE scan of the checkpointed allSets for BOTH driver
          // observables (r18; guide §2.4 remove passes): the batch row
          // count and the re-crawl candidate (lowest v1 doc_id with a
          // set) were two separate jobs over the same cached blocks.
          val stats = allSets.agg(
            coalesce(sum(when(col("doc_id") >= t, 1L).otherwise(0L)), lit(0L)),
            min(when(col("doc_id") < t, col("doc_id")))).collect()(0)
          val nBatch = stats.getLong(0)
          val union = Ckpt.boundary(withPrefix(
            atRest.unionByName(batch.select("doc_id", "n", "hs"))))
          val nDrop = pairsFromSets(union, 6000L, probeMinD2 = Some(t))
            .select("d2").distinct().count()
          // step 3 — merge: the batch plus one re-crawled v1 doc (its
          // lowest id with a set) through the copy-on-write upsert;
          // with an empty v1 there is nothing to re-crawl (r17 sweep)
          val recrawl = (if (stats.isNullAt(1)) None else Some(stats.getLong(1))) match {
            case None => v1.limit(0)
            case Some(rid) => allSets.filter(col("doc_id") === rid)
          }
          LakeOps.upsert(s, tableDir, batch.unionByName(recrawl),
            Seq("doc_id"), Seq("pb"))
          // step 4 — parity vs a from-scratch rebuild (an all-empty
          // corpus commits nothing at all — read the empty shape)
          val merged = (if (graft.sink.GraftLog.records(tableDir).nonEmpty)
              LakeOps.readTable(s, tableDir)
            else v1.limit(0))
            .select(col("doc_id"), col("hs"))
          val fresh = allSets.select(col("doc_id"), col("hs").as("hs2"))
          // ONE pass over the parity join for both observables (r17
          // optimization: merged.count() + a second filtered count were
          // two full passes): n_merged = rows with an index side,
          // mism = rows where either side is missing or differs
          val parity = merged.join(fresh, Seq("doc_id"), "full_outer")
            .agg(
              coalesce(sum(when(col("hs").isNotNull, 1L).otherwise(0L)), lit(0L)),
              coalesce(sum(when(col("hs").isNull || col("hs2").isNull ||
                not(col("hs") === col("hs2")), 1L).otherwise(0L)), lit(0L)))
            .collect()(0)
          val nMerged = parity.getLong(0)
          val mism = parity.getLong(1)
          // the declared result is driver data — the scenario's
          // checkpoint blocks have no remaining reader (clearCache
          // between bench queries cannot see them)
          Ckpt.free(allSets)
          Ckpt.free(union)
          Seq(
            (1L, "1_index_v1", c1.rows, c1.rows),
            (2L, "2_dedup_batch", nBatch, nDrop),
            (3L, "3_merge_v2", nMerged, nBatch + 1L),
            (4L, "4_parity", nMerged, mism))
            .toDF("step", "op", "n_rows", "n_aux")
            .orderBy("step")
        } finally LocalFs.deleteTree(tmpRoot)
      },
      Some(s"""WITH $ShSql,
             |$JacSql,
             |tt AS (SELECT (4*(MAX(doc_id)+1))//5 AS t FROM documents),
             |ix AS (
             |  SELECT doc_id FROM documents
             |  WHERE len(string_split(text, ' ')) >= 3),
             |nv1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ix, tt
             |        WHERE doc_id < tt.t),
             |nv2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ix, tt
             |        WHERE doc_id >= tt.t),
             |nall AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ix),
             |nd AS (
             |  SELECT CAST(COUNT(DISTINCT d2) AS BIGINT) AS n FROM jac, tt
             |  WHERE jac_e4 >= 6000 AND d2 >= tt.t)
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) AS step, '1_index_v1' AS op,
             |    nv1.n AS n_rows, nv1.n AS n_aux FROM nv1
             |  UNION ALL
             |  SELECT 2, '2_dedup_batch', nv2.n, nd.n FROM nv2, nd
             |  UNION ALL
             |  SELECT 3, '3_merge_v2', nall.n, nv2.n + 1 FROM nall, nv2
             |  UNION ALL
             |  SELECT 4, '4_parity', nall.n, 0 FROM nall)
             |ORDER BY step""".stripMargin))
  )
}
