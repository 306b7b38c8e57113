package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps._

/** Batch 7 ★ — similarity search over the `embeddings` table
  * (64-dim `array<float>`): brute-force cosine top-k as the exactness
  * baseline, sign-LSH bucketed ANN as the scale path, and exact
  * embedding near-dup pairs. North-star scope (the reference has no
  * vector surface).
  *
  * Scale design:
  *  - brute force top-k: the tiny query set is broadcast; the corpus
  *    streams through ONE narrow pass; per input partition a constant-
  *    size heap keeps the local top-k per query (no corpus shuffle —
  *    a window over q_id alone would shuffle the whole scored corpus
  *    into n_queries reducer tasks, a single-task sort at 100 TB); the
  *    global top-k then sorts only n_partitions × k × n_queries rows;
  *  - ANN, two interchangeable scale paths: a corpus-adaptive sign-LSH
  *    code per vector (`annPlanes` bits, codegen'd fold, map-only) with
  *    Hamming ≤ 2 multi-probe, and an IVF inverted-file layout
  *    (`q_sim_ivf`: ⌈√n⌉ nearest-centroid lists, probe ¼ of them); in
  *    both, the candidate join is an equi-join on an int key — never a
  *    cross join — and codes/lists would be precomputed at rest in a
  *    real deployment;
  *  - near-dup (q_embed_dedup): EXACT blocked all-pairs — see the
  *    operating-point analysis on the query. LSH prefiltering is kept
  *    as the parameterized scale path (`lshCandidatePairs` /
  *    `lshNearDupPairs`) for the high-cosine regime where it is sound,
  *    with corpus-adaptive plane count (buckets grow with n).
  *
  * Oracle status: ALL similarity queries are DuckDB-oracle-checked —
  * cosines are reproduced with explicit double arithmetic, q_sim_ann's
  * hyperplanes are hash-derived (md5 of the (plane, dim) index, no RNG
  * state) so the oracle rebuilds them in SQL, and every decision
  * boundary's distance from the nearest rank/threshold/rounding flip
  * is MEASURED to dominate cross-engine double-summation noise (see
  * each query's scaladoc for its margins). Exactness/recall are
  * additionally asserted against plain-Scala references in
  * SimilaritySpec. Cosines are exported in e6 integer units.
  *
  * Zero-norm guard (r5, was a fixture-luck invariant): on a zero
  * vector Spark's CosineSim yields null (sorted/filtered last) while
  * DuckDB's dot/(0·…) yields NaN, which sorts FIRST under ORDER BY
  * cos DESC — a zero vector entering the corpus would take rank 1 in
  * every oracle top-k and hash-mismatch. The ranked queries (top-k /
  * ANN / IVF / LSH-dedup) therefore drop zero-norm vectors EXPLICITLY
  * in both engines: Spark filters cosine(v,v).isNotNull (codegen'd;
  * null iff Σx² = 0) and each oracle's corpus CTE carries
  * `list_sum(list_transform(v, x -> x*x)) > 0`. Both tests are exact
  * "has a nonzero element" predicates: inputs are float32 widened to
  * double, so x² ≥ (1.4e-45)² ≈ 2e-90 never underflows a double sum.
  * SimilaritySpec covers a corpus containing a zero vector.
  */
object SimilarityQueries {

  private val Dim = 64

  /** The embeddings read every consumer goes through. Non-finite
    * vectors (any NaN/±Inf component — the corrupt-embedding class real
    * fp16 pipelines emit) are dropped HERE, at the scan (r17): their
    * geometry is meaningless, their cosines poison every ranking in
    * engine-specific ways (DuckDB's total order puts NaN above +Inf;
    * Spark ANSI throws casting NaN to the e6 integer export; the kmeans
    * long accumulators overflow), and no downstream operator can repair
    * them. The predicate is one codegen'd Σx² pass: `vecNorm2(v) <
    * +Inf` is true exactly for all-finite vectors (float32 widened to
    * double can never overflow a finite sum — 64·(3.4e38)² ≈ 7e78 —
    * and NaN compares ABOVE +Inf under Spark ordering, so plain `<`
    * rejects NaN and ±Inf alike). Zero vectors (Σx² = 0) pass — the
    * unranked consumers (quantization, PQ codes, OOD) keep processing
    * them exactly as before; the ranked queries still drop them in
    * [[guarded]]. A null embedding passes (coalesce), deferred to each
    * consumer like any other null column. Oracle mirror: every
    * embeddings CTE carries COALESCE(isfinite(list_sum(x²)), TRUE)
    * beside its existing predicate.
    */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .filter(coalesce(
        graft.functions.VectorOps.vecNorm2(col("embedding")) <
          lit(Double.PositiveInfinity),
        lit(true)))

  /** Corpus with zero-norm vectors dropped — the ranked queries' input
    * (see the zero-norm guard note above). cosine(v,v) is null exactly
    * when Σx² = 0, i.e. every element is zero; one fused codegen'd
    * pass, no interpreted HOF on the scan.
    */
  private def guarded(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).filter(cosine(col("embedding"), col("embedding")).isNotNull)

  /** The fixed benchmark query set: vec_id < 5 (present at every SF). */
  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    guarded(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** The 16-centroid corpus partition shared by the cluster-blocked
    * queries (q_semdedup, q_knn_graph): every guarded vector with its
    * nearest-centroid cluster id — q_embed_cluster's exact assignment
    * (argmax margin ≥ 1.1e-5, measured there), one map-only codegen'd
    * pass. ONE implementation so the assignment can never drift
    * between consumers.
    */
  private def clusterAssigned(s: SparkSession, dir: String): DataFrame = {
    val e = guarded(s, dir).select(col("vec_id"), col("embedding"))
    val crows = e.filter(col("vec_id") < 16).orderBy("vec_id").collect()
    val cents: Seq[Seq[Float]] = crows.map(_.getSeq[Float](1).toSeq).toSeq
    val centIds = array(crows.map(r => lit(r.getLong(0))): _*)
    e.select(col("vec_id"), col("embedding"),
      element_at(centIds,
        nearestCentroids(col("embedding"), cents, 1)(0) + 1).as("cid"))
  }

  /** Within-cluster neighbor relation over [[clusterAssigned]]:
    * (vec_id, nb, cos) for every ORDERED pair of distinct cluster-
    * mates — Σ n_c² rows ≈ n²/k for balanced clusters, produced by one
    * equi-join keyed on the cluster id (the blocked-candidate shuffle
    * both consumers amortize).
    */
  private def clusterPairs(asg: DataFrame): DataFrame =
    asg.as("a").join(asg.as("b"),
        col("a.cid") === col("b.cid") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nb"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos"))

  /** The cluster-blocked top-3 kNN graph (vec_id, rk, nb, cos) —
    * q_knn_graph's relation, shared with q_knn_refine's NN-descent
    * round so the base graph can never drift between them.
    */
  private[graft] def knnBlockedTop3(s: SparkSession, dir: String): DataFrame = {
    val nbr = clusterPairs(clusterAssigned(s, dir))
    val pre = heapTopK(
      nbr.select(col("vec_id"), col("nb"), col("cos")), 3)
      .select(col("q_id").as("vec_id"), col("id").as("nb"),
        col("score").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cos").desc, col("nb"))
    pre.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("vec_id"), col("rk"), col("nb"), col("cos"))
  }

  /** The deterministic NN-descent init edges: RING vec_id → vec_id+1
    * (equi-join, no window; gaps from dropped zero-norm ids just skip
    * a link), threading the id space across every cluster boundary —
    * the stand-in for NN-descent's random init, shared by
    * q_knn_refine and q_knn_descent.
    */
  private[graft] def ringEdges(e: DataFrame): DataFrame =
    e.as("x").join(e.as("y"), col("y.vec_id") === col("x.vec_id") + 1)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))

  /** ONE NN-descent round over the current top-3 graph `g` (edges
    * (a, b)): candidates = U ∪ (U ∘ U) over the undirected union
    * U = g ∪ gᵀ ∪ ring ∪ ringᵀ (the ring stays a permanent candidate
    * source, making the round a PURE function of g — a converged
    * graph is a fixed point, which is what lets the descent oracle
    * unroll a fixed round count), scored exactly, re-ranked top-3.
    * Returns (vec_id, rk, nb, cos). Per-node candidate volume is
    * deg(U)² ≤ (2·(3+2))² — corpus-linear. ONE implementation shared
    * by q_knn_refine (one round) and q_knn_descent (rounds to
    * convergence) so the round operator can never drift.
    */
  private[graft] def descentRound(e: DataFrame, ring: DataFrame,
      g: DataFrame): DataFrame = {
    val u = g
      .unionByName(g.select(col("b").as("a"), col("a").as("b")))
      .unionByName(ring)
      .unionByName(ring.select(col("b").as("a"), col("a").as("b")))
    val cand = u.unionByName(
        u.as("u1").join(u.as("u2"), col("u1.b") === col("u2.a"))
          .select(col("u1.a").as("a"), col("u2.b").as("b")))
      .filter(col("a") =!= col("b")).distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .select(col("a").as("vec_id"), col("b").as("nb"),
        cosine(col("ea"), col("eb")).as("cos"))
    val pre = heapTopK(
      scored.select(col("vec_id"), col("nb"), col("cos")), 3)
      .select(col("q_id").as("vec_id"), col("id").as("nb"),
        col("score").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cos").desc, col("nb"))
    pre.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("vec_id"), col("rk"), col("nb"), col("cos"))
  }

  /** Rounds the q_knn_descent row declares (its oracle unrolls exactly
    * this many; the Spark side may stop early at a fixed point, which
    * cannot change the result — see [[descentRound]]).
    */
  private[graft] val KnnDescentRounds = 3

  /** SQL twin of [[descentRound]]: ONE copy of the round operator's
    * CTE chain (u/cand/sc/rk + the next graph), instantiated per round
    * by the q_knn_refine (one round) and q_knn_descent
    * ([[KnnDescentRounds]] rounds) oracles. Requires `e`, `ring`, and
    * the input graph CTE `gIn(a, b)` in scope; emits `gr$r(a, b)` and
    * leaves `rk$r(vec_id, nb, cos, r)` for the final SELECT.
    * MATERIALIZED on the multiply-referenced CTEs (the unigramRoundCte
    * lesson: without it DuckDB re-inlines exponentially across rounds).
    */
  private def descentRoundSql(r: Int, gIn: String): String =
    s"""u$r AS MATERIALIZED (
       |  SELECT a, b FROM $gIn UNION SELECT b, a FROM $gIn
       |  UNION SELECT a, b FROM ring UNION SELECT b, a FROM ring),
       |cand$r AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM u$r
       |    UNION ALL
       |    SELECT u1.a, u2.b FROM u$r u1 JOIN u$r u2 ON u1.b = u2.a) t
       |  WHERE a != b),
       |sc$r AS (
       |  SELECT cand$r.a AS vec_id, cand$r.b AS nb,
       |    list_sum(list_transform(range(1, len(ea.v)+1),
       |      i -> ea.v[i]*eb.v[i])) /
       |      (sqrt(list_sum(list_transform(ea.v, x -> x*x))) *
       |       sqrt(list_sum(list_transform(eb.v, x -> x*x)))) AS cos
       |  FROM cand$r JOIN e ea ON cand$r.a = ea.vec_id
       |    JOIN e eb ON cand$r.b = eb.vec_id),
       |rk$r AS MATERIALIZED (
       |  SELECT vec_id, nb, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, nb) AS r
       |  FROM sc$r),
       |gr$r AS (SELECT vec_id AS a, nb AS b FROM rk$r WHERE r <= 3)"""
      .stripMargin

  /** Shared oracle prefix for the NN-descent rows: the blocked base
    * graph `gr0` off [[ClusterPairSql]]'s `p` plus the `ring` init
    * edges.
    */
  private val DescentBaseSql: String =
    """gr0 AS (
      |  SELECT vec_id AS a, nb AS b FROM (
      |    SELECT vec_id, nb, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, nb) AS r FROM p)
      |  WHERE r <= 3),
      |ring AS (SELECT x.vec_id AS a, y.vec_id AS b
      |  FROM e x JOIN e y ON y.vec_id = x.vec_id + 1)""".stripMargin

  /** DuckDB twin of [[clusterAssigned]] + [[clusterPairs]] — a WITH
    * prefix ending in `p(vec_id, nb, cos)` plus the assignment view
    * `av(vec_id, cid, v)`, shared by both cluster-blocked oracles so
    * an edit to the geometry hits both engines' both queries or
    * neither.
    */
  private val ClusterPairSql: String =
    """e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |scored AS (
      |  SELECT e.vec_id, c.cid,
      |    list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i])) /
      |      (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
      |       sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS cos
      |  FROM e CROSS JOIN c),
      |best AS (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
      |  FROM scored),
      |av AS (
      |  SELECT b.vec_id, b.cid, e.v
      |  FROM best b JOIN e ON b.vec_id = e.vec_id WHERE b.rk = 1),
      |p AS (
      |  SELECT a.vec_id, b.vec_id AS nb,
      |    list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) /
      |      (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
      |       sqrt(list_sum(list_transform(b.v, x -> x*x)))) AS cos
      |  FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id != b.vec_id)""".stripMargin

  /** DuckDB twin of [[annTop10]]'s ranking — a WITH body ending in
    * `ranked(q_id, vec_id, cos, rank)` over the guarded corpus `e`,
    * shared by the q_sim_ann and q_ann_recall oracles (one copy of the
    * plane/code/probe chain, so the declared ANN and its eval can
    * never diverge).
    */
  private lazy val AnnRankedSql: String =
    s"""e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |p AS (
      |  SELECT LEAST(20, GREATEST(4, length(bin(COUNT(*) - 1)) - 3)) AS bits FROM e),
      |pl AS (
      |  SELECT pr.range AS p, dr.range AS i,
      |    CASE WHEN ('0x' || substring(md5(pr.range || '_' || dr.range), 1, 1))::INT < 8
      |         THEN 1.0 ELSE -1.0 END AS s
      |  FROM range(0, 20) pr, range(0, $Dim) dr, p WHERE pr.range < p.bits),
      |dots AS (
      |  SELECT e.vec_id, pl.p, SUM(e.v[pl.i + 1] * pl.s) AS dot
      |  FROM e, pl GROUP BY 1, 2),
      |codes AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS code
      |  FROM dots GROUP BY 1),
      |flips AS (
      |  SELECT 0::BIGINT AS f
      |  UNION ALL
      |  SELECT (1::BIGINT << b.range) FROM range(0, 20) b, p WHERE b.range < p.bits
      |  UNION ALL
      |  SELECT (1::BIGINT << i.range) | (1::BIGINT << j.range)
      |    FROM range(0, 20) i, range(0, 20) j, p
      |    WHERE i.range < j.range AND j.range < p.bits),
      |probes AS (
      |  SELECT c.vec_id AS q_id, xor(c.code, f.f) AS probe_code
      |  FROM codes c, flips f WHERE c.vec_id < 5),
      |cand AS (
      |  SELECT pr.q_id, c.vec_id
      |  FROM probes pr JOIN codes c ON c.code = pr.probe_code
      |  WHERE c.vec_id != pr.q_id),
      |scored AS (
      |  SELECT cand.q_id, cand.vec_id, list_sum(list_transform(range(1, len(qe.v)+1), i -> qe.v[i]*e.v[i])) / (sqrt(list_sum(list_transform(qe.v, x -> x*x))) * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
      |  FROM cand JOIN e ON e.vec_id = cand.vec_id
      |  JOIN e qe ON qe.vec_id = cand.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored)""".stripMargin

  /** DuckDB CTE fragment: the exact brute-force per-query ranking
    * (`xranked`: q_id, vec_id, rank) — [[exactTop10]]'s SQL twin,
    * shared by the q_ann_recall and q_ivf_recall oracles (one copy of
    * the ground-truth definition, same sharing rule as
    * [[AnnRankedSql]]/[[ivfCandSql]]). Requires `e` in scope.
    */
  /** DuckDB CTE fragment: the PQ-ADC ranking (`adcranked`: q_id,
    * vec_id, rank, score_e6) — [[adcTop10]]'s SQL twin, shared by the
    * q_pq_adc and q_pq_recall oracles (one copy of the codebook,
    * sub-assignment, lookup table, and ADC sum — same sharing rule as
    * [[ExactRankedSql]]). DEFINES `e` (the zero-norm-guarded
    * double-cast embedding view), so compose it FIRST; fragments that
    * require `e` ([[ExactRankedSql]]) can follow.
    */
  private val AdcRankedSql: String = {
    // COALESCE(… / sqrt(…), 0): a ZERO-NORM SUB-centroid (a legitimate
    // PQ codebook state — e.g. an axis vector's other subspaces) makes
    // DuckDB's x/0 division NULL where the Spark side scores a plain
    // 0-dot against the unnormalized zero row (and the driver table's
    // NaN.toLong is 0) — pin both engines to the 0 convention, ties →
    // smaller idx (r17 nasty sweep)
    val codeCtes = (1 to 4).map { j =>
      val off = (j - 1) * 16
      s"""s$j AS (
         |  SELECT e.vec_id, ci.idx,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      COALESCE(list_sum(list_transform(range(1, 17),
         |        i -> e.v[$off + i] * ci.cv[$off + i])) /
         |      sqrt(list_sum(list_transform(range(1, 17),
         |        i -> ci.cv[$off + i] * ci.cv[$off + i]))), 0) DESC,
         |      ci.idx) AS rk
         |  FROM e CROSS JOIN cidx ci),
         |t$j AS (
         |  SELECT q.vec_id AS q_id, ci.idx AS code,
         |    CAST(floor(
         |      COALESCE(list_sum(list_transform(range(1, 17),
         |        i -> q.v[$off + i] * ci.cv[$off + i])) /
         |      sqrt(list_sum(list_transform(range(1, 17),
         |        i -> ci.cv[$off + i] * ci.cv[$off + i]))), 0) * 1000000 + 0.5)
         |      AS BIGINT) AS dot_e6
         |  FROM qv q CROSS JOIN cidx ci),
         |sc$j AS (
         |  SELECT s$j.vec_id, t$j.q_id, t$j.dot_e6
         |  FROM s$j JOIN t$j ON s$j.idx = t$j.code WHERE s$j.rk = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |cidx AS (
       |  SELECT cid, CAST(row_number() OVER (ORDER BY cid) - 1 AS INTEGER) AS idx,
       |    cv FROM c),
       |qv AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |$codeCtes,
       |alls AS (
       |  SELECT * FROM sc1 UNION ALL SELECT * FROM sc2
       |  UNION ALL SELECT * FROM sc3 UNION ALL SELECT * FROM sc4),
       |adcagg AS (
       |  SELECT q_id, vec_id, CAST(SUM(dot_e6) AS BIGINT) AS score_e6
       |  FROM alls WHERE vec_id != q_id GROUP BY 1, 2),
       |adcranked AS (
       |  SELECT q_id, vec_id, score_e6,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY score_e6 DESC, vec_id) AS rank
       |  FROM adcagg)""".stripMargin
  }

  private val ExactRankedSql: String =
    """xscored AS (
      |  SELECT q.vec_id AS q_id, e.vec_id,
      |    list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*q.v[i])) /
      |      (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
      |       sqrt(list_sum(list_transform(q.v, x -> x*x)))) AS cos
      |  FROM e CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id < 5) q
      |  WHERE e.vec_id != q.vec_id),
      |xranked AS (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM xscored)""".stripMargin

  /** DuckDB CTE fragment: the IVF candidate relation (`scored`:
    * q_id, vec_id, probe_rank, cos), probing each query's `probeLimit`
    * nearest lists — shared by the q_sim_ivf and q_ivf_recall oracles
    * (one copy of the quantizer/assign/probe chain, same sharing rule
    * as [[AnnRankedSql]]). `probeLimit` references columns of `p`
    * (k, nprobe, jmax). probe_rank is 1-BASED here (row_number), so
    * `probe_rank <= j` selects the j nearest lists — matching the
    * Spark side's 0-based `probe_rank < j`.
    */
  private def ivfCandSql(probeLimit: String): String =
    s"""e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |p AS (
      |  SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS INTEGER)) AS k,
      |    GREATEST(1, (GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS INTEGER)) + 3) // 4) AS nprobe,
      |    CASE WHEN GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS INTEGER)) >= 8
      |         THEN 8 ELSE 4 END AS jmax
      |  FROM e),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e, p WHERE vec_id < p.k),
      |ac AS (
      |  SELECT e.vec_id, c.cid, list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i])) / (sqrt(list_sum(list_transform(e.v, x -> x*x))) * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS cos
      |  FROM e CROSS JOIN c),
      |asg AS (
      |  SELECT vec_id, cid AS list_id FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
      |    FROM ac) WHERE rk = 1),
      |qp AS (
      |  SELECT t.vec_id AS q_id, t.cid AS list_id, t.rk AS probe_rank FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
      |    FROM ac WHERE vec_id < 5) t, p WHERE t.rk <= $probeLimit),
      |cand AS (
      |  SELECT qp.q_id, a.vec_id, qp.probe_rank
      |  FROM qp JOIN asg a ON a.list_id = qp.list_id
      |  WHERE a.vec_id != qp.q_id),
      |scored AS (
      |  SELECT cand.q_id, cand.vec_id, cand.probe_rank, list_sum(list_transform(range(1, len(qe.v)+1), i -> qe.v[i]*e.v[i])) / (sqrt(list_sum(list_transform(qe.v, x -> x*x))) * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
      |  FROM cand JOIN e ON e.vec_id = cand.vec_id
      |  JOIN e qe ON qe.vec_id = cand.q_id)""".stripMargin

  /** Exact brute-force top-10 per benchmark query — q_sim_topk's body,
    * shared with q_ann_recall (the eval needs the ground-truth ranking
    * and the declared query must be THE SAME computation or the metric
    * is meaningless). Columns (q_id, rank, vec_id, cos_e6), unordered.
    */
  private def exactTop10(s: SparkSession, dir: String): DataFrame = {
    val q = broadcast(queriesDf(s, dir))
    val scored = guarded(s, dir).join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .filter(col("cos").isNotNull)
    // Local top-k pre-reduce: [[heapTopK]] — zero shuffle of the
    // corpus; local survivors are a superset of the global top-k.
    val k = 10
    val pre = heapTopK(scored, k)
      .select(col("q_id"), col("id").as("vec_id"), col("score").as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    pre.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos") * 1000000).cast("long").as("cos_e6"))
  }

  /** Radius-2 multi-probe sign-LSH top-10 per benchmark query —
    * q_sim_ann's body, shared with q_ann_recall for the same
    * same-computation reason as [[exactTop10]]. Columns
    * (q_id, rank, vec_id, cos_e6), unordered.
    */
  private def annTop10(s: SparkSession, dir: String): DataFrame = {
    val bits = annPlanes(guarded(s, dir).count())
    val planes = hashPlanes(bits, Dim)
    val coded = guarded(s, dir)
      .select(col("vec_id"), col("embedding"),
        lshCode(col("embedding"), planes).as("code"))
    val flips = (0L +: (0 until bits).map(b => 1L << b)) ++
      (for (i <- 0 until bits; j <- i + 1 until bits) yield (1L << i) | (1L << j))
    val probes = array(flips.map(lit): _*)
    val qProbed = broadcast(queriesDf(s, dir)
      .select(col("q_id"), col("q_emb"),
        lshCode(col("q_emb"), planes).as("q_code"))
      .select(col("q_id"), col("q_emb"),
        col("q_code"), explode(probes).as("flip"))
      .select(col("q_id"), col("q_emb"),
        col("flip").bitwiseXOR(col("q_code")).as("probe_code")))
    val cand = coded.join(qProbed,
      col("code") === col("probe_code") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos") * 1000000).cast("long").as("cos_e6"))
  }

  /** The PQ-ADC top-10 per benchmark query — q_pq_adc's body
    * (codebooks, driver-side e6 lookup table, map-only code
    * assignment, broadcast join + sum), extracted (r12) so
    * q_pq_recall evaluates THE SAME computation — one copy of the
    * codebook and the ADC scoring, same rule as
    * [[exactTop10]]/[[annTop10]]/[[ivfCandidates]]. Columns
    * (q_id, rank, vec_id, score_e6), unordered.
    */
  private def adcTop10(s: SparkSession, dir: String): DataFrame = {
    val e = guarded(s, dir).select(col("vec_id"), col("embedding"))
    val crows = e.filter(col("vec_id") < 16).orderBy("vec_id").collect()
    val cents: Seq[Seq[Float]] = crows.map(_.getSeq[Float](1).toSeq).toSeq
    val qrows = e.filter(col("vec_id") < 5).orderBy("vec_id").collect()
    val sub = Dim / 4
    // driver-side lookup table, DuckDB-identical arithmetic
    def dotE6(q: Seq[Float], c: Seq[Float], j: Int): Long = {
      var dot = 0.0; var nc = 0.0
      var i = j * sub
      while (i < (j + 1) * sub) {
        dot += q(i).toDouble * c(i).toDouble
        nc += c(i).toDouble * c(i).toDouble
        i += 1
      }
      math.floor(dot / math.sqrt(nc) * 1000000d + 0.5d).toLong
    }
    import s.implicits._
    val table = (for {
      qr <- qrows; j <- 0 until 4; ci <- cents.indices
    } yield (qr.getLong(0), j, ci,
      dotE6(qr.getSeq[Float](1), cents(ci), j))).toSeq
      .toDF("q_id", "j", "code", "dot_e6")
    val codeCols = (0 until 4).map { j =>
      val subCents = cents.map(_.slice(j * sub, (j + 1) * sub))
      nearestCentroids(slice(col("embedding"), j * sub + 1, sub), subCents, 1)(0)
        .as(s"c${j + 1}")
    }
    val codes = e.select(col("vec_id") +: codeCols: _*)
      .select(col("vec_id"),
        posexplode(array(col("c1"), col("c2"), col("c3"), col("c4"))))
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "code")
    val scored = codes.join(broadcast(table), Seq("j", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("dot_e6").as("score_e6"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score_e6").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score_e6"))
  }

  /** The IVF candidate stream (q_id, vec_id, probe_rank, cos) for the
    * first `probes(k)` probed lists per query, k = ⌈√n⌉ — q_sim_ivf's
    * assign/probe/score body, extracted so q_ivf_recall evaluates THE
    * SAME computation (one copy of the quantizer, the assignment, and
    * the probe order — the declared index and its eval can never
    * diverge; same rule as [[exactTop10]]/[[annTop10]]). `probe_rank`
    * is the 0-based probe position, so `probe_rank < j` selects the j
    * nearest lists. Returns the candidate frame and k.
    */
  private def ivfCandidates(s: SparkSession, dir: String,
      probes: Int => Int): (DataFrame, Int) = {
    val e = guarded(s, dir).select(col("vec_id"), col("embedding"))
    val n = e.count()
    val k = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val m = math.min(k, probes(k))
    val cents: Seq[Seq[Float]] = e.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).toSeq).toSeq
    val assigned = e.select(col("vec_id"), col("embedding"),
      nearestCentroids(col("embedding"), cents, 1)(0).as("list_id"))
    val qProbed = broadcast(queriesDf(s, dir)
      .select(col("q_id"), col("q_emb"),
        posexplode(nearestCentroids(col("q_emb"), cents, m))
          .as(Seq("probe_rank", "list_id"))))
    val cand = assigned.join(qProbed,
      assigned("list_id") === qProbed("list_id") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("probe_rank"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    (cand, k)
  }

  /** Per-partition constant-size-heap top-k pre-reduce over (q_id, id,
    * score) rows — the q_sim_topk kernel, shared with q_hybrid_rrf so
    * the eviction tie-break (which MUST mirror the global rank order —
    * score desc, id asc — or the local survivors stop being a superset
    * of the global top-k) lives in exactly one place. A narrow
    * mapPartitions: per-partition state with no Catalyst equivalent,
    * zero shuffle of the corpus.
    */
  private[graft] def heapTopK(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    scored.as[(Long, Long, Double)].mapPartitions { it =>
      val worstFirst = new Ordering[(Long, Double)] {
        def compare(x: (Long, Double), y: (Long, Double)): Int = {
          val c = java.lang.Double.compare(y._2, x._2) // lower score = worse = greater
          if (c != 0) c else java.lang.Long.compare(x._1, y._1) // higher id = worse
        }
      }
      val heaps = mutable.Map.empty[Long, mutable.PriorityQueue[(Long, Double)]]
      it.foreach { case (qid, vid, score) =>
        val h = heaps.getOrElseUpdate(qid, mutable.PriorityQueue.empty(worstFirst))
        h.enqueue((vid, score))
        if (h.size > k) h.dequeue()
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map(t => (qid, t._1, t._2)) }
    }.toDF("q_id", "id", "score")
  }

  /** Long-scored twin of [[heapTopK]] for exact-integer scores (q_bm25):
    * the payload stays Long end to end, so ranking is exact at ANY score
    * magnitude — no reliance on the < 2^53 double-precision window that
    * the Double variant would need a cast-guard for. Same eviction
    * tie-break contract: score desc, id asc, mirroring the global rank
    * order so local survivors remain a superset of the global top-k.
    */
  private[graft] def heapTopKLong(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    scored.as[(Long, Long, Long)].mapPartitions { it =>
      val worstFirst = new Ordering[(Long, Long)] {
        def compare(x: (Long, Long), y: (Long, Long)): Int = {
          val c = java.lang.Long.compare(y._2, x._2) // lower score = worse = greater
          if (c != 0) c else java.lang.Long.compare(x._1, y._1) // higher id = worse
        }
      }
      val heaps = mutable.Map.empty[Long, mutable.PriorityQueue[(Long, Long)]]
      it.foreach { case (qid, vid, score) =>
        val h = heaps.getOrElseUpdate(qid, mutable.PriorityQueue.empty(worstFirst))
        h.enqueue((vid, score))
        if (h.size > k) h.dequeue()
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map(t => (qid, t._1, t._2)) }
    }.toDF("q_id", "id", "score")
  }

  /** Default number of sign-LSH planes for a corpus of `n` vectors:
    * bucket count (2^planes) tracks corpus size so per-bucket occupancy
    * — and with it the candidate-pair count, Σ n_b²/2 ≈ n²/2^planes —
    * stays corpus-LINEAR instead of quadratic. Floor of 8, cap of 24
    * (beyond ~16M buckets the code itself should shard).
    */
  def adaptivePlanes(n: Long): Int =
    math.min(24, math.max(8, (math.log(math.max(1L, n).toDouble) / math.log(2.0)).ceil.toInt))

  /** Sign-LSH bit count for bucketed ANN at corpus size `n`: bits grow
    * as log₂(n) − 3 (floor 4, cap 20) with the probe radius fixed at 2,
    * so the scanned corpus fraction (1 + b + C(b,2)) / 2^b FALLS as the
    * corpus grows — 500 vecs → 6 bits → 34% scanned, 2k → 8 bits → 14%,
    * 10⁹ → 20 bits → 0.02% — instead of a constant 64-bucket layout
    * whose per-bucket occupancy (and ANN cost) is corpus-linear.
    */
  def annPlanes(n: Long): Int =
    // ⌈log₂(n)⌉ − 3 via INTEGER bit length, not floating log: a float
    // log₂ at exact powers of two can land a hair above the integer
    // (log(2^k)/log(2) = k + ~1e-15) and ceil to k+1 — and the DuckDB
    // oracle must derive the identical count (length(bin(n-1)) there).
    math.min(20, math.max(4,
      (64 - java.lang.Long.numberOfLeadingZeros(math.max(2L, n) - 1L)) - 3))

  /** Block count for the exact all-pairs cosine join: each block holds
    * at most [[RowsPerBlock]] vectors, so one task (one block pair)
    * streams 2 × 50k × 64 floats ≈ 26 MB whatever the corpus size —
    * per-task memory is CONSTANT in n, task count (blocks²) and total
    * FLOPs (n²/2 × ~192) carry the quadratic. The parallelism floor
    * keeps blocks² ≥ cores when n is small. FLOPs budget: 10⁶ vectors
    * ≈ 10¹⁴ FLOPs ≈ minutes on a 1000-core cluster; 10⁸ vectors ≈
    * 10¹⁸ FLOPs ≈ a day — beyond that the noise-floor-exact regime is
    * unaffordable by construction and the declared threshold must move
    * into `lshNearDupPairs`' sub-quadratic territory (cos ≥ ~0.8).
    */
  def embedDedupBlocks(n: Long, parallelism: Int): Int = {
    val memBound = ((n + RowsPerBlock - 1) / RowsPerBlock).toInt
    val parFloor = math.ceil(math.sqrt(math.max(1, parallelism).toDouble)).toInt
    math.max(memBound, parFloor)
  }
  private val RowsPerBlock = 50000L

  /** Candidate near-dup pairs from OR-amplified sign-LSH: `tables`
    * independent `planesPerTable`-plane tables; a pair is a candidate
    * iff it collides in ANY table. Equi-join on (table, code) — never
    * a cross join; candidate count ≈ tables · n²/2^planes, so with
    * `adaptivePlanes` it is corpus-linear.
    */
  def lshCandidatePairs(e: DataFrame, planesPerTable: Int, tables: Int): DataFrame = {
    val codeCols = (0 until tables).map(t =>
      struct(lit(t).as("tbl"),
        lshCode(col("embedding"), hyperplanes(planesPerTable, Dim, seed = 1000L + t)).as("code")))
    val coded = e
      .select(col("vec_id"), col("embedding"),
        explode(array(codeCols: _*)).as("tc"))
      .select(col("vec_id"), col("embedding"),
        col("tc.tbl").as("tbl"), col("tc.code").as("code"))
    coded.as("a")
      .join(coded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .distinct()
  }

  /** [[lshCandidatePairs]] with HASH-DERIVED planes (md5 of the global
    * (plane, dim) index — `hashPlanes`, the q_sim_ann trick): table `t`
    * reads global plane rows [t·ppt, (t+1)·ppt), so an oracle rebuilds
    * the identical 4-table code layout from indices alone, no RNG
    * state. This is the declared-query form of the candidate
    * generator; the seeded variant stays for parameter sweeps in
    * SimilaritySpec.
    */
  def lshCandidatePairsHashed(e: DataFrame, planesPerTable: Int, tables: Int): DataFrame = {
    val all = hashPlanes(planesPerTable * tables, Dim)
    val codeCols = (0 until tables).map(t =>
      struct(lit(t).as("tbl"),
        lshCode(col("embedding"),
          all.slice(t * planesPerTable, (t + 1) * planesPerTable)).as("code")))
    val coded = e
      .select(col("vec_id"), col("embedding"),
        explode(array(codeCols: _*)).as("tc"))
      .select(col("vec_id"), col("embedding"),
        col("tc.tbl").as("tbl"), col("tc.code").as("code"))
    coded.as("a")
      .join(coded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .distinct()
  }

  /** Per-table plane count for the DECLARED LSH near-dup query:
    * ⌈log₂(n)⌉ clamped to [8, 24], via integer bit length (the float-
    * log₂ ceil trap — see [[annPlanes]]); DuckDB derives the identical
    * count as GREATEST(8, LEAST(24, length(bin(n-1)))).
    */
  def lshDedupPlanes(n: Long): Int =
    math.min(24, math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(2L, n) - 1L)))

  /** LSH-prefiltered near-dup pairs: exact cosine verify on candidates
    * only. The sub-quadratic path for near-identical duplicates.
    * Recall of OR-amplified sign-LSH is 1 − (1 − p^planes)^tables with
    * per-bit agreement p = 1 − acos(cos)/π. At the measured operating
    * point (SimilaritySpec: planted dups at cos ≈ 0.995 ⇒ p ≈ 0.97,
    * 9 planes × 4 tables) that is 1 − (1 − 0.97⁹)⁴ ≈ 0.997, and the
    * planted recall is 1.0 at a per-mille candidate fraction. At
    * cos = 0.8 (p ≈ 0.795) the same 9 × 4 config only reaches
    * 1 − (1 − 0.795⁹)⁴ ≈ 0.42 — high recall there needs shorter codes
    * or more tables (e.g. 6 planes × 16 tables ⇒ ≈ 0.99) at the price
    * of a larger candidate fraction. NOT sound at thresholds near the
    * random-pair noise floor (p − ½ too thin) — see q_embed_dedup.
    */
  def lshNearDupPairs(e: DataFrame, minCos: Double, planesPerTable: Int, tables: Int): DataFrame =
    lshCandidatePairs(e, planesPerTable, tables)
      .filter(col("cos") >= minCos)
      .select(col("v1"), col("v2"),
        round(col("cos") * 1000000).cast("long").as("cos_e6"))

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // q_sim_topk ★ — exact brute-force cosine top-10 per query, with a
    // narrow per-partition pre-reduce so no stage's task count collapses
    // to the query count (r1 weakness: Window.partitionBy(q_id) alone
    // shuffled the ENTIRE scored corpus into 5 tasks).
    // ORACLE-CHECKED since r4 (was spec-only "float-tie rank flips"):
    // measured on the actual corpus, the smallest nonzero adjacent-
    // cosine gap in any query's top-12 is 7.8e-6 (sf0.001; ≥ 2.0e-5 at
    // sf0.1) — ~10⁷ × the worst cross-engine double-summation
    // reordering noise for a 64-term dot (~1e-13), so both engines
    // rank identically; exact bit-equal ties break on vec_id in both.
    // cos_e6's rounding boundary margin is ≥ 3.5e-3 e6-units (3.5e-9
    // in cos). Same double-fold cosine SQL q_embed_dedup validated.
    QueryDef(
      "q_sim_topk",
      (s: SparkSession, dir: String) =>
        exactTop10(s, dir).orderBy("q_id", "rank"),
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |  WHERE list_sum(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.q_id, e.vec_id,
             |    list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*q.qv[i])) /
             |      (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             |       sqrt(list_sum(list_transform(q.qv, x -> x*x)))) AS cos
             |  FROM e CROSS JOIN q
             |  WHERE e.vec_id != q.q_id),
             |ranked AS (
             |  SELECT q_id, vec_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
             |  FROM scored)
             |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id,
             |  CAST(round(cos*1000000) AS BIGINT) AS cos_e6
             |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sim_ann ★ — sign-LSH bucketed ANN with a corpus-adaptive code
    // length (`annPlanes`: bits ≈ log₂(n) − 3, probe radius fixed at 2):
    // queries multi-probe all buckets within Hamming ≤ 2 of their own
    // (1 + b + C(b,2) probes), exact cosine re-rank of candidates,
    // top-10. At this corpus (500–2k vecs → 6–8 bits) that scans
    // 17–32% instead of 100%, and the fraction FALLS as n grows
    // (20 bits → 0.02%). On a corpus with genuine near neighbors
    // (cos ≥ 0.7, per-bit agreement ≥ 0.75) the true neighbors
    // concentrate in the probed buckets and recall approaches 1; on
    // this near-random testdata (top-10 cos ≈ 0.3): recall 0.52,
    // quality 0.91 — asserted in SimilaritySpec.
    // ORACLE-CHECKED since r4: the planes are HASH-DERIVED (`hashPlanes`
    // — ±1 from md5(plane_dim), no RNG state), so the oracle rebuilds
    // the identical matrix in SQL from the indices alone; code bits are
    // decided by sign(dot) with measured min |dot| ≥ 4.5e-5 across all
    // SFs (~10⁸ × cross-engine double noise), and final rank/e6 margins
    // ≥ 8.4e-11 (~6000 × the ~1.4e-14 worst-case 64-term reorder
    // noise). Reproducible-without-stored-state LSH is also the
    // operational win: codes can be recomputed anywhere, the same
    // property hash-based sampling has over rand().
    QueryDef(
      "q_sim_ann",
      (s: SparkSession, dir: String) =>
        annTop10(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH $AnnRankedSql
             |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id,
             |  CAST(round(cos*1000000) AS BIGINT) AS cos_e6
             |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sim_ivf ★ — IVF (inverted-file) bucketed ANN, the second scale
    // path next to sign-LSH: a coarse quantizer of k = ⌈√n⌉ centroids
    // partitions the corpus into k lists (each vector assigned to its
    // nearest centroid — ONE list per vector, so unlike multi-probe LSH
    // the candidate stream needs no dedup); queries probe their
    // ⌈k/4⌉ nearest lists and exact-cosine re-rank only those, top-10.
    // Assign and probe are one codegen'd NearestCentroids loop each
    // (k × dim FMAs per row, map-only — never an explode of corpus ×
    // centroids). Expected scan fraction ≈ nprobe/k = 25% on uniform
    // data, FALLING with n at fixed probe fraction of lists since
    // k = √n (at 10⁹ vectors: 31k lists, probe 25% of lists ≈ touch
    // 25% of corpus — tune nprobe/k down as real corpora cluster).
    // Centroids here are the first k corpus vectors (deterministic;
    // on clustered real data swap in k-means — the query shape is
    // identical). The collect() is k vectors = the quantizer model
    // (√n × 64 floats — 31k × 256 B ≈ 8 MB at 10⁹ vectors), broadcast
    // as expression state like the LSH planes; not a corpus collect.
    // ORACLE-CHECKED since r4: unlike sign-LSH (seeded planes are not
    // reproducible in SQL), every IVF decision is pure corpus-derived
    // arithmetic, and every decision layer's margin is measured ≫
    // cross-engine double noise (~1e-13): assignment argmax gap ≥
    // 3.0e-5, probe-set cutoff gap ≥ 1.1e-3, final rank/e6-rounding
    // margin ≥ 3.6e-9 — across all SFs. The SQL recomputes k = ⌈√n⌉
    // and nprobe from COUNT(*), so it holds at every SF. Recall +
    // list-partition invariants remain asserted in SimilaritySpec.
    // list_id here stays the centroid-array INDEX (unlike
    // q_embed_cluster's exported label): it is never exported, and the
    // sorted collect makes index ↔ cid an order-preserving bijection,
    // so the equi-join candidates and the tie-breaks (smaller index ↔
    // smaller cid) are identical either way.
    QueryDef(
      "q_sim_ivf",
      (s: SparkSession, dir: String) => {
        // assign/probe/score via the SHARED [[ivfCandidates]] (r11:
        // extracted so q_ivf_recall evaluates the same computation)
        val (cand, _) = ivfCandidates(s, dir, kk => math.max(1, (kk + 3) / 4))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
        cand.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("vec_id"),
            round(col("cos") * 1000000).cast("long").as("cos_e6"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${ivfCandSql("p.nprobe")},
             |ranked AS (
             |  SELECT q_id, vec_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
             |  FROM scored)
             |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id,
             |  CAST(round(cos*1000000) AS BIGINT) AS cos_e6
             |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_embed_ood ★ (new r13) — embedding OUTLIER detection, the vector
    // hygiene gate of a curation pipeline (corrupt encodes, wrong-modal
    // rows, and truncation artifacts land far from the corpus mass and
    // poison centroids/ANN recall if not dropped first): top-20 vectors
    // by squared distance to the corpus centroid. EXACT integers: with
    // q = floor(x·1e4 + 0.5) (the kmeans e-quantizer at e4) and per-dim
    // sums S_d = Σ q(v_d), the rational mean never divides —
    //   dist2n2(v) = Σ_d (n·q(v_d) − S_d)²  ( = n²·‖q(v)−mean‖² )
    // ranks identically and is a pure integer in both engines.
    // The quantizer SATURATES at ±1e7 (|x| = 1e3 — r17 nasty sweep: a
    // corrupt 1e10-magnitude vector overflowed the long square; now it
    // clamps to the cap and still ranks at the TOP, which is exactly
    // what an OOD gate must do with it — saturation, the int8-quantizer
    // discipline, identical LEAST/GREATEST in both engines).
    // Headroom with the cap: |n·q − S| ≤ 2n·1e7; ×64 dims needs
    // n ≤ 1.9e4 vectors per scored population — per shard/partition
    // scale; a bigger corpus scores against the PRE-DIVIDED e4 mean
    // (one rounding, same top-k in practice) or per-label strata.
    // Plan: posexplode → one 64-row dim agg (the
    // centroid "model", broadcast back, persisting at rest like the
    // IVF codebook) → per-vec agg → TakeOrderedAndProject top-20
    // (per-partition heaps + 20-row driver merge, no global sort).
    QueryDef(
      "q_embed_ood",
      (s: SparkSession, dir: String) => {
        val q = least(greatest(floor(col("x").cast("double") * 10000d + 0.5d),
          lit(-1.0e7)), lit(1.0e7)).cast("long")
        val xs = corpus(s, dir)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("d", "x")))
          .select(col("vec_id"), col("label"), col("d"), q.as("qv"))
        val cen = xs.groupBy("d").agg(sum("qv").as("qsum"))
        val n = corpus(s, dir).agg(count(lit(1)).as("n"))
        xs.join(broadcast(cen), "d").crossJoin(broadcast(n))
          .groupBy("vec_id", "label")
          .agg(sum((col("n") * col("qv") - col("qsum"))
            * (col("n") * col("qv") - col("qsum"))).as("dist2n2"))
          .orderBy(col("dist2n2").desc, col("vec_id"))
          .limit(20)
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding,
             |      x -> CAST(LEAST(GREATEST(
             |        floor(CAST(x AS DOUBLE) * 10000 + 0.5),
             |        -10000000), 10000000) AS BIGINT))
             |      AS q
             |  FROM embeddings WHERE COALESCE(isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), TRUE)),
             |xs AS (
             |  SELECT vec_id, label, unnest(range(1, len(q) + 1)) AS d, q
             |  FROM e),
             |x2 AS (SELECT vec_id, label, d, q[CAST(d AS INTEGER)] AS qv FROM xs),
             |cen AS (SELECT d, CAST(SUM(qv) AS BIGINT) AS qsum FROM x2 GROUP BY 1),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
             |dist AS (
             |  SELECT vec_id, label,
             |    CAST(SUM((n.n * qv - qsum) * (n.n * qv - qsum)) AS BIGINT)
             |      AS dist2n2
             |  FROM x2 JOIN cen USING (d) CROSS JOIN n
             |  GROUP BY 1, 2)
             |SELECT vec_id, label, dist2n2 FROM dist
             |ORDER BY dist2n2 DESC, vec_id LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // q_embed_quant ★ — symmetric int8 quantization stats per vector
    // (the storage play: float32 embeddings quantized 4× smaller for
    // the at-rest corpus, with |error| ≤ max|x|/254 per element). One
    // fused codegen'd pass per row (VectorOps.quantI8Stats), map-only, integer
    // outputs. ORACLE-CHECKED: both engines compute bit-identical
    // doubles (same IEEE ops, order-independent max) and the corpus
    // margin from every .5 rounding boundary is ≥ 3.1e-6 (measured).
    QueryDef(
      "q_embed_quant",
      (s: SparkSession, dir: String) =>
        corpus(s, dir)
          .select(col("vec_id"), quantI8Stats(col("embedding")).as("q"))
          .select(col("vec_id"), col("q.sum_q").as("sum_q"),
            col("q.l1_q").as("l1_q"), col("q.nnz").as("nnz"))
          .orderBy("vec_id"),
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings WHERE COALESCE(isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), TRUE)),
             |m AS (
             |  SELECT vec_id, v,
             |    list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
             |q AS (
             |  SELECT vec_id, CASE WHEN mx = 0 THEN list_transform(v, x -> 0.0)
             |    ELSE list_transform(v, x -> round(x * 127 / mx)) END AS c
             |  FROM m)
             |SELECT vec_id,
             |  CAST(COALESCE(list_sum(c), 0) AS BIGINT) AS sum_q,
             |  CAST(COALESCE(list_sum(list_transform(c, x -> abs(x))), 0) AS BIGINT) AS l1_q,
             |  CAST(len(list_filter(c, x -> x != 0)) AS BIGINT) AS nnz
             |FROM q ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_embed_cluster ★ — nearest-centroid corpus partitioning (the
    // assignment half of k-means / the IVF build step): every vector
    // assigned to its nearest of 16 centroids, per-cluster occupancy +
    // id range. The training-data uses: sharding a corpus into
    // semantically-coherent partitions, curriculum bucketing, and the
    // list layout q_sim_ivf probes. Map-only: one codegen'd
    // NearestCentroids loop per row (k × dim FMAs), centroids ride in
    // the expression like LSH planes; ONE shuffle for the 16-group agg.
    // Fixed k=16 head-of-corpus centroids keep the oracle expressible;
    // at scale k comes from a k-means fit, same query shape.
    // ORACLE-CHECKED: assignment is argmax over cosines whose top-2 gap
    // is ≥ 1.1e-5 across every vector at every SF (measured) — 10⁹ ×
    // the cross-engine double-arithmetic noise, so Spark's
    // dot-with-normalized-centroid ranking and DuckDB's explicit
    // cosine ranking pick identical centroids; all outputs integer.
    QueryDef(
      "q_embed_cluster",
      (s: SparkSession, dir: String) => {
        val e = corpus(s, dir).select(col("vec_id"), col("embedding"))
        val crows = e.filter(col("vec_id") < 16).orderBy("vec_id").collect()
        val cents: Seq[Seq[Float]] = crows.map(_.getSeq[Float](1).toSeq).toSeq
        // Label clusters by the centroid's ACTUAL vec_id, not the array
        // index — they only coincide when vec_ids 0..15 are all present
        // and contiguous (true of this fixture, asserted in
        // SimilaritySpec, but a sparse id space would silently mislabel
        // vs the oracle's cid = vec_id — ADVICE r4). element_at on a
        // 16-slot literal array stays codegen'd.
        val centIds = array(crows.map(r => lit(r.getLong(0))): _*)
        e.select(col("vec_id"),
          element_at(centIds,
            nearestCentroids(col("embedding"), cents, 1)(0) + 1)
            .cast("int").as("cluster_id"))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n"),
            min("vec_id").as("min_vec"), max("vec_id").as("max_vec"))
          .orderBy("cluster_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings WHERE COALESCE(isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), TRUE)),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
             |scored AS (
             |  SELECT e.vec_id, c.cid,
             |    list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i])) /
             |      (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             |       sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS cos
             |  FROM e CROSS JOIN c),
             |best AS (
             |  SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
             |  FROM scored)
             |SELECT CAST(cid AS INTEGER) AS cluster_id, COUNT(*) AS n,
             |  MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
             |FROM best WHERE rk = 1 GROUP BY cid ORDER BY cluster_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_embed_dedup ★ — embedding near-dup pairs at cos ≥ 0.5, EXACT.
    //
    // Operating-point analysis (r2, measured on the actual corpus): the
    // true pairs sit at cos 0.50–0.60 while the background tops out at
    // 0.498 — the threshold is AT the random-pair noise floor. Sign-LSH
    // per-bit agreement for cos 0.5 is 1−acos(0.5)/π = 2/3 vs 1/2 for
    // random pairs; that gap is too thin to separate: a simulation with
    // the exact seeded planes showed 16 planes × 8 tables (the naive
    // "more buckets" fix) has recall 0/14 at sf0.1, and EVERY config
    // reaching full recall generates ≥ 20% of all pairs as candidates —
    // more work than exhaustive verification. At a noise-floor
    // threshold the problem is inherently Θ(n²) in FLOPs; the correct
    // plan is to make the quadratic explicit and cheap, not to hide it
    // behind an LSH that either misses pairs or amplifies work:
    //  - blocked all-pairs join (each side hash-repartitioned into
    //    blocks; each task = one block pair) — the classic distributed
    //    brute-force-similarity layout (GEMM-shaped, emits ONLY
    //    matching pairs, never materializes the pair stream); the
    //    block count comes from `embedDedupBlocks`: blocks = ⌈n/50k⌉
    //    (with a √cores floor), so per-task memory stays CONSTANT as
    //    the corpus grows and the n² cost lands in task count, where
    //    the cluster can spread it — with its FLOPs budget stated
    //    there, past which this regime is unaffordable by design;
    //  - per-pair work is one fused codegen'd CosineSim — ~64 FMA per
    //    pair, arithmetic-bound, no boxing;
    //  - exact ⇒ deterministic ⇒ DuckDB-oracle-checkable (upgraded
    //    from r1's spec-only LSH approximation, which this replaces).
    // When duplicates are near-identical (the realistic training-data
    // dedup regime, cos ≥ 0.8), use `lshNearDupPairs` — sub-quadratic
    // with corpus-adaptive bucket counts, proven in SimilaritySpec.
    QueryDef(
      "q_embed_dedup",
      (s: SparkSession, dir: String) => {
        val e = corpus(s, dir).select(col("vec_id"), col("embedding"))
        val blocks = embedDedupBlocks(e.count(), s.sparkContext.defaultParallelism)
        e.repartition(blocks).as("a")
          .crossJoin(e.repartition(blocks).as("b"))
          .where(col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
            cosine(col("a.embedding"), col("b.embedding")).as("cos"))
          .filter(col("cos") >= 0.5)
          .select(col("v1"), col("v2"),
            round(col("cos") * 1000000).cast("long").as("cos_e6"))
          .orderBy("v1", "v2")
      },
      // Explicit double arithmetic: DuckDB's list_cosine_similarity
      // computes in float32 (measured 8e-8 off Spark's double fold —
      // unsafe under e6 rounding); a double-cast element fold agrees
      // with Spark to ~1e-15, and every cosine in the corpus is ≥
      // 1.6e-3 from both the 0.5 cut and any e6 rounding boundary.
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings WHERE COALESCE(isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), TRUE)),
             |p AS (
             |  SELECT a.vec_id AS v1, b.vec_id AS v2,
             |    list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) /
             |      (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
             |       sqrt(list_sum(list_transform(b.v, x -> x*x)))) AS cos
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |SELECT v1, v2, CAST(round(cos*1000000) AS BIGINT) AS cos_e6
             |FROM p WHERE cos >= 0.5 ORDER BY v1, v2""".stripMargin)),

    // ------------------------------------------------------------------
    // q_kmeans_iter ★ — one Lloyd (k-means) UPDATE step, the iterated
    // kernel of corpus clustering / IVF codebook training: assign every
    // vector to its nearest of 16 centroids (q_embed_cluster's map-only
    // codegen'd assignment, argmax margin ≥ 1.1e-5 measured), then
    // recompute per-cluster centroid state. The update is exposed as
    // exact integers so the oracle is engine-exact: per cluster, the
    // member count and the SUM of e6-quantized coordinates (dims 1–4;
    // new centroid = qsum/n at e6 precision). Quantizer is
    // floor(x*1e6 + 0.5) computed in double in BOTH engines — float→
    // double is lossless and mult/add/floor are single IEEE ops, so the
    // longs are bit-identical (same reasoning as q_embed_quant; no
    // engine round() semantics involved). A float sum would be
    // partition-order-dependent — quantized long sums commute, which is
    // ALSO why this is the scale shape: map-side partial aggregation of
    // a commutative long sum, ONE 16-group shuffle, no collect. Full-
    // width centroids carry all 64 dims the same way (an array-typed
    // sum); dims 1–4 keep the declared result narrow.
    QueryDef(
      "q_kmeans_iter",
      (s: SparkSession, dir: String) => {
        val e = corpus(s, dir).select(col("vec_id"), col("embedding"))
        val crows = e.filter(col("vec_id") < 16).orderBy("vec_id").collect()
        val cents: Seq[Seq[Float]] = crows.map(_.getSeq[Float](1).toSeq).toSeq
        // Actual centroid vec_id as the label (see q_embed_cluster).
        val centIds = array(crows.map(r => lit(r.getLong(0))): _*)
        def q(i: Int) =
          floor(element_at(col("embedding"), i).cast("double") * 1000000d + 0.5d)
            .cast("long")
        e.select(col("vec_id"), col("embedding"),
          element_at(centIds,
            nearestCentroids(col("embedding"), cents, 1)(0) + 1)
            .cast("int").as("cluster_id"))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n"),
            sum(q(1)).as("qsum_1"), sum(q(2)).as("qsum_2"),
            sum(q(3)).as("qsum_3"), sum(q(4)).as("qsum_4"))
          .orderBy("cluster_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings WHERE COALESCE(isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), TRUE)),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
             |scored AS (
             |  SELECT e.vec_id, c.cid, e.v,
             |    list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i])) /
             |      (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             |       sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS cos
             |  FROM e CROSS JOIN c),
             |best AS (
             |  SELECT vec_id, cid, v,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
             |  FROM scored)
             |SELECT CAST(cid AS INTEGER) AS cluster_id,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(floor(v[1]*1000000 + 0.5) AS BIGINT)) AS BIGINT) AS qsum_1,
             |  CAST(SUM(CAST(floor(v[2]*1000000 + 0.5) AS BIGINT)) AS BIGINT) AS qsum_2,
             |  CAST(SUM(CAST(floor(v[3]*1000000 + 0.5) AS BIGINT)) AS BIGINT) AS qsum_3,
             |  CAST(SUM(CAST(floor(v[4]*1000000 + 0.5) AS BIGINT)) AS BIGINT) AS qsum_4
             |FROM best WHERE rk = 1 GROUP BY cid ORDER BY cluster_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_embed_dedup_lsh ★ — the SUB-QUADRATIC embedding near-dup path,
    // promoted to a declared oracle-checked query (r4 ask #3): top-20
    // candidate pairs by exact cosine from 4-table OR-amplified
    // sign-LSH with HASH-DERIVED planes. This is the pass that actually
    // runs at 100 TB (q_embed_dedup's exact blocked all-pairs is the
    // noise-floor fallback with an explicit FLOPs budget):
    //  - planes per table = ⌈log₂(n)⌉ clamped [8,24] (integer bit
    //    length; oracle recomputes it from COUNT(*)), so bucket count
    //    tracks corpus size and the candidate-pair stream stays
    //    corpus-LINEAR (Σ tables·n²/2^bits ≈ 4n); measured fraction of
    //    all pairs FALLS with n: 0.91% at 500 vecs → 0.27% at 2k;
    //  - candidates come from an equi-join on (table, code) — never a
    //    cross join; exact cosine verifies candidates only;
    //  - global top-20 is TakeOrderedAndProject (distributed heap
    //    per partition + 20-row merge on the driver — no global sort
    //    shuffle); rank is then a window over 20 rows.
    // ORACLE-CHECKED by construction: the planes are md5-derived from
    // the global (plane, dim) index (table t = plane rows [t·b,(t+1)·b)
    // — `lshCandidatePairsHashed`), so DuckDB rebuilds the identical
    // code layout from indices alone. Measured margins (all SFs): sign
    // decisions min |dot| ≥ 1.29e-5, top-30 adjacent-cosine gaps ≥
    // 7.5e-6, e6 rounding margins ≥ 8.4e-3 e6-units — each ≥ 10⁴ × the
    // ~1e-13 cross-engine double-fold noise; no exact ties.
    QueryDef(
      "q_embed_dedup_lsh",
      (s: SparkSession, dir: String) => {
        val e = guarded(s, dir).select(col("vec_id"), col("embedding"))
        val bits = lshDedupPlanes(e.count())
        val cand = lshCandidatePairsHashed(e, bits, tables = 4)
          .filter(col("cos").isNotNull)
        val top = cand
          .orderBy(col("cos").desc, col("v1"), col("v2")).limit(20)
        val w = Window.orderBy(col("cos").desc, col("v1"), col("v2"))
        top.withColumn("rank", row_number().over(w))
          .select(col("rank"), col("v1"), col("v2"),
            round(col("cos") * 1000000).cast("long").as("cos_e6"))
          .orderBy("rank")
      },
      Some(s"""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |  WHERE list_sum(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             |p AS (
             |  SELECT GREATEST(8, LEAST(24, length(bin(COUNT(*) - 1)))) AS bits FROM e),
             |pl AS (
             |  SELECT pr.range AS gp, dr.range AS i,
             |    CASE WHEN ('0x' || substring(md5(pr.range || '_' || dr.range), 1, 1))::INT < 8
             |         THEN 1.0 ELSE -1.0 END AS s
             |  FROM range(0, 96) pr, range(0, $Dim) dr, p WHERE pr.range < 4 * p.bits),
             |dots AS (
             |  SELECT e.vec_id, pl.gp // p.bits AS tbl, pl.gp % p.bits AS bit,
             |    SUM(e.v[pl.i + 1] * pl.s) AS dot
             |  FROM e, pl, p GROUP BY 1, 2, 3),
             |codes AS (
             |  SELECT vec_id, tbl,
             |    CAST(SUM(CASE WHEN dot > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS code
             |  FROM dots GROUP BY 1, 2),
             |cand AS (
             |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
             |  FROM codes a JOIN codes b
             |    ON a.tbl = b.tbl AND a.code = b.code AND a.vec_id < b.vec_id),
             |scored AS (
             |  SELECT cand.v1, cand.v2,
             |    list_sum(list_transform(range(1, len(ea.v)+1), i -> ea.v[i]*eb.v[i])) /
             |      (sqrt(list_sum(list_transform(ea.v, x -> x*x))) *
             |       sqrt(list_sum(list_transform(eb.v, x -> x*x)))) AS cos
             |  FROM cand
             |  JOIN e ea ON ea.vec_id = cand.v1
             |  JOIN e eb ON eb.vec_id = cand.v2),
             |ranked AS (
             |  SELECT v1, v2, cos,
             |    row_number() OVER (ORDER BY cos DESC, v1, v2) AS rank
             |  FROM scored)
             |SELECT CAST(rank AS INTEGER) AS rank, v1, v2,
             |  CAST(round(cos*1000000) AS BIGINT) AS cos_e6
             |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_pq_codes ★ — product quantization: the memory-compression half
    // of an IVF-PQ ANN index (Jégou et al. 2011, "Product quantization
    // for nearest neighbor search"). The 64-dim embedding splits into
    // m = 4 subspaces of 16 dims; each subspace has its own 16-entry
    // codebook (the 16 lowest-vec_id vectors' subvectors — the same
    // data-derived reproducible-model convention as q_sim_ivf/q_kmeans
    // _iter), and a vector's code is the concatenation of its 4
    // nearest-sub-centroid indices: 64 × 4 B of floats become 4 × 4
    // bits = 2 B (128×), which is what lets a 10⁹-vector index live in
    // executor memory for re-rank. Scale shape: the codebooks are a
    // bounded 16-row model collect (like the IVF quantizer); assignment
    // is MAP-ONLY — 4 codegen'd NearestCentroids loops per row (16
    // cents × 16 dims each, exactly the one-pass 64×16 FMA budget of
    // the full-width assign), no shuffle, no explode, no pair stream.
    // Oracle parity: both engines rank sub-centroids by dot(v_sub,
    // ĉ_sub) with ties → smaller index (Spark normalizes the centroid
    // then dots; DuckDB divides the dot by |c_sub| — same ranking,
    // measured sub-assign decision margins ≥ 2e-5 at both SFs, 7
    // decimal orders above the ~1e-12 double-rounding difference of
    // the two forms; SimilaritySpec measures the margin on testdata).
    // The exported code digit is the codebook INDEX (codes are index
    // lists by definition); index ↔ cid is the order-preserving
    // bijection of the sorted collect, reproduced in SQL by
    // row_number() OVER (ORDER BY cid).
    QueryDef(
      "q_pq_codes",
      (s: SparkSession, dir: String) => {
        val e = guarded(s, dir).select(col("vec_id"), col("embedding"))
        val cents: Seq[Seq[Float]] = e.filter(col("vec_id") < 16)
          .orderBy("vec_id").collect().map(_.getSeq[Float](1).toSeq).toSeq
        val sub = Dim / 4
        val codeCols = (0 until 4).map { j =>
          val subCents = cents.map(_.slice(j * sub, (j + 1) * sub))
          nearestCentroids(slice(col("embedding"), j * sub + 1, sub), subCents, 1)(0)
            .as(s"c${j + 1}")
        }
        e.select(col("vec_id") +: codeCols: _*)
          .withColumn("code",
            col("c1").cast("long") * 4096L + col("c2").cast("long") * 256L +
              col("c3").cast("long") * 16L + col("c4").cast("long"))
          .orderBy("vec_id")
      },
      Some {
        val subs = (1 to 4).map { j =>
          val off = (j - 1) * 16
          // COALESCE: zero-norm sub-centroids score 0, not NULL — the
          // AdcRankedSql convention (r17 nasty sweep)
          s"""s$j AS (
             |  SELECT e.vec_id, ci.idx,
             |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |      COALESCE(list_sum(list_transform(range(1, 17),
             |        i -> e.v[$off + i] * ci.cv[$off + i])) /
             |      sqrt(list_sum(list_transform(range(1, 17),
             |        i -> ci.cv[$off + i] * ci.cv[$off + i]))), 0) DESC,
             |      ci.idx) AS rk
             |  FROM e CROSS JOIN cidx ci),
             |p$j AS (SELECT vec_id, idx AS code$j FROM s$j WHERE rk = 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings
           |  WHERE list_sum(list_transform(embedding,
           |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
           |cidx AS (
           |  SELECT cid, CAST(row_number() OVER (ORDER BY cid) - 1 AS INTEGER) AS idx,
           |    cv FROM c),
           |$subs
           |SELECT e.vec_id, p1.code1 AS c1, p2.code2 AS c2,
           |  p3.code3 AS c3, p4.code4 AS c4,
           |  CAST(p1.code1 * 4096 + p2.code2 * 256 + p3.code3 * 16 + p4.code4
           |    AS BIGINT) AS code
           |FROM e
           |JOIN p1 ON e.vec_id = p1.vec_id
           |JOIN p2 ON e.vec_id = p2.vec_id
           |JOIN p3 ON e.vec_id = p3.vec_id
           |JOIN p4 ON e.vec_id = p4.vec_id
           |ORDER BY e.vec_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q_pq_adc ★ — asymmetric distance computation, the SEARCH half of
    // IVF-PQ (Jégou et al. 2011 §III): queries stay full-precision,
    // the corpus is its 2-byte PQ code, and a candidate's score is 4
    // table lookups + 3 adds instead of 64 FMAs — the trick that lets
    // a single executor core scan 10⁹ codes. Scale shape: the
    // query×sub-centroid lookup table (5 queries × 4 subspaces × 16
    // centroids = 320 rows) is computed ON THE DRIVER from the two
    // bounded models (query set + codebooks) and BROADCAST; the corpus
    // side is the map-only code assignment (shared with q_pq_codes), a
    // posexplode to (vec, subspace, code) — corpus×4, still linear — a
    // broadcast-hash join to the table, and ONE (q, vec) hash agg.
    // No corpus×corpus or corpus×centroid pair stream ever exists.
    // ENGINE-EXACT scoring: each table entry is pre-rounded to e6 long
    // — floor(1e6·dot(q_sub, c_sub/|c_sub|) + 0.5), with the driver
    // computing bit-for-bit DuckDB's arithmetic (Σ q·c, then ÷ by
    // √Σc², left-to-right doubles) — so the summed score is a
    // commutative long sum and ranking ties break on vec_id in both
    // engines. Recall vs exact top-10 is measured in SimilaritySpec
    // (ADC is an approximation BY DESIGN; the declared result is the
    // ADC ranking itself, exactly reproduced).
    QueryDef(
      "q_pq_adc",
      (s: SparkSession, dir: String) =>
        adcTop10(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH $AdcRankedSql
              |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, score_e6
              |FROM adcranked WHERE rank <= 10
              |ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_pca_power ★ (new r5) — one COVARIANCE-FREE PCA power-iteration
    // step over the embedding matrix X (n × 64): v₁ = Xᵀ(X s) with s a
    // hash-derived ±1 start vector (hashPlanes plane 0 — the q_sim_ann
    // trick, so the oracle rebuilds s from indices alone). This is the
    // dimensionality-reduction kernel at scale: TWO corpus-linear
    // matvec aggregations — y = X s (one per-vector agg) then v₁ = Xᵀy
    // (one per-dimension agg) — never materializing the 64×64 Gram
    // matrix; at dim 4096 (where the Gram is 16M entries × a corpus
    // pass to build) the two-pass matvec is the only shape that
    // survives, and further iterations are driver-orchestrated re-runs
    // on the previous v (the q_pagerank_iter superstep argument).
    // EXACT integer arithmetic end-to-end: coordinates are e6-quantized
    // longs (floor(x·1e6 + 0.5) in double — bit-identical in both
    // engines, the q_kmeans_iter quantizer), s is ±1, so y and v₁ are
    // exact long sums that COMMUTE (map-side partial agg; a float sum
    // would be partition-order-dependent). The quantizer SATURATES at
    // ±1e6 (|x| = 1: r17 nasty sweep — a corrupt 1e10-magnitude vector
    // overflowed q·y; PCA's hygiene precondition is near-unit-norm
    // input, so an out-of-domain coordinate clamps to the cap instead
    // of poisoning the job — q_embed_ood upstream is the gate that
    // actually removes such rows). Headroom with the cap: |q| ≤ 1e6,
    // |y| ≤ 64·1e6, |q·y| ≤ 6.4e13 — the v₁ sum stays in signed
    // 64-bit through ~1.4e5 vectors; beyond that lift the second agg
    // to decimal(38,0) (same move as q_autocorr). The posexplode
    // stream is (n·64) rows — narrow, codegen'd, no interpreted HOF
    // in either agg.
    QueryDef(
      "q_pca_power",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val signs = broadcast(hashPlanes(1, Dim).head.zipWithIndex
          .map { case (sg, j) => (j, sg.toLong) }.toDF("pos", "sgn"))
        val ex = corpus(s, dir)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("pos"),
            least(greatest(floor(col("x").cast("double") * 1000000d + 0.5d),
              lit(-1.0e6)), lit(1.0e6)).cast("long").as("q"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ex.count() // eager: y and v1 below both consume it (PERF_NOTES rule)
        val y = ex.join(signs, "pos")
          .groupBy("vec_id").agg(sum(col("q") * col("sgn")).as("y"))
        ex.join(y, "vec_id")
          .groupBy("pos").agg(sum(col("q") * col("y")).as("v1"))
          .join(signs, "pos")
          .select(col("pos"), col("sgn"), col("v1"))
          .orderBy("pos")
      },
      Some(s"""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings WHERE COALESCE(isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), TRUE)),
             |ex AS (
             |  SELECT vec_id, CAST(i.range AS INTEGER) AS pos,
             |    CAST(LEAST(GREATEST(floor(v[i.range + 1] * 1000000 + 0.5),
             |      -1000000), 1000000) AS BIGINT) AS q
             |  FROM e, range(0, $Dim) i),
             |sg AS (
             |  SELECT CAST(d.range AS INTEGER) AS pos,
             |    CAST(CASE WHEN ('0x' || substring(md5(0 || '_' || d.range), 1, 1))::INT < 8
             |      THEN 1 ELSE -1 END AS BIGINT) AS sgn
             |  FROM range(0, $Dim) d),
             |y AS (
             |  SELECT ex.vec_id, CAST(SUM(ex.q * sg.sgn) AS BIGINT) AS y
             |  FROM ex JOIN sg USING (pos) GROUP BY 1),
             |v1 AS (
             |  SELECT ex.pos, CAST(SUM(ex.q * y.y) AS BIGINT) AS v1
             |  FROM ex JOIN y USING (vec_id) GROUP BY 1)
             |SELECT v1.pos, sg.sgn, v1.v1
             |FROM v1 JOIN sg USING (pos) ORDER BY pos""".stripMargin)),

    // ------------------------------------------------------------------
    // q_hybrid_rrf ★ (new r5) — HYBRID retrieval fusion: each query
    // entity (vec_id ≡ doc_id, the fixture's aligned id space) retrieves
    // through BOTH modalities — dense cosine over `embeddings` and
    // sparse df-cut tf-idf over `documents` — and the two rankings are
    // fused by reciprocal-rank fusion, RRF(d) = Σ_r 1/(60 + rank_r(d))
    // over each ranker's top-50 (Cormack et al.'s k = 60; rank-only
    // fusion needs NO score calibration between a float cosine and an
    // integer term score — which is exactly why RAG stacks use it).
    // Contributions are exact integers (1e6 // (60 + rank)), so fusion
    // and final ranking are engine-exact given the two input rankings;
    // the dense ranking's determinism is the measured q_sim_topk
    // adjacent-gap argument extended to depth 52: min nonzero adjacent
    // cosine gap over all 5 queries' ranks ≤ 52 is 7.8e-6 / 5.4e-6 /
    // 4.6e-6 at sf0.001/0.01/0.1 — ~10⁷ × the ~1e-13 cross-engine
    // double-summation noise (exact ties break on id in both engines)
    // — and the sparse ranking is exact integer with doc_id tie-break. Plan: the dense
    // half is the q_sim_topk kernel verbatim (broadcast queries, per-
    // partition constant-size heap at k = 50, no corpus shuffle); the
    // sparse half joins a BROADCAST 5-query weight set against the
    // df-cut postings — map-side, candidate-sized output (docs sharing
    // ≥1 surviving term); fusion is a full outer join of two ≤ 50-row-
    // per-query rank lists. Every piece stays corpus-linear at 100 TB.
    QueryDef(
      "q_hybrid_rrf",
      (s: SparkSession, dir: String) => {
        import graft.functions.ExactMath
        val K = 50
        // dense ranks: the shared q_sim_topk heap kernel at k = 50
        val q = broadcast(queriesDf(s, dir))
        val scored = guarded(s, dir).join(q, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            cosine(col("q_emb"), col("embedding")).as("cos"))
          .filter(col("cos").isNotNull)
        val pre = heapTopK(scored, K).withColumnRenamed("score", "cos")
        val wc = Window.partitionBy("q_id").orderBy(col("cos").desc, col("id"))
        val dense = pre.withColumn("rc", row_number().over(wc))
          .filter(col("rc") <= K).select(col("q_id"), col("id"), col("rc"))
        // sparse ranks: the SHARED df-cut tf-idf weights
        // (TextQueries.dfCutWeights — persisted there; two consumers
        // here), query side broadcast
        val wgt = TextQueries.dfCutWeights(Tables(s, dir, "documents"))
        val wq = broadcast(wgt.filter(col("doc_id") < 5)
          .select(col("doc_id").as("q_id"), col("term"), col("w").as("wq")))
        val ss = wgt.join(wq, "term").filter(col("doc_id") =!= col("q_id"))
          .groupBy("q_id", "doc_id").agg(sum(col("w") * col("wq")).as("score"))
        val wsw = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
        val sparse = ss.withColumn("rd", row_number().over(wsw))
          .filter(col("rd") <= K)
          .select(col("q_id"), col("doc_id").as("id"), col("rd"))
        // fuse
        val fused = dense.join(sparse, Seq("q_id", "id"), "full_outer")
          .select(col("q_id"), col("id"),
            coalesce(col("rc"), lit(0)).as("dense_rank"),
            coalesce(col("rd"), lit(0)).as("sparse_rank"),
            (coalesce(ExactMath.divTrunc(lit(1000000L), col("rc") + 60L), lit(0L)) +
              coalesce(ExactMath.divTrunc(lit(1000000L), col("rd") + 60L), lit(0L)))
              .as("rrf_e6"))
        val wf = Window.partitionBy("q_id").orderBy(col("rrf_e6").desc, col("id"))
        fused.withColumn("rank", row_number().over(wf)).filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("id"), col("rrf_e6"),
            col("dense_rank"), col("sparse_rank"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |  WHERE list_sum(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.q_id, e.vec_id AS id,
             |    list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*q.qv[i])) /
             |      (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             |       sqrt(list_sum(list_transform(q.qv, x -> x*x)))) AS cos
             |  FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
             |d50 AS (
             |  SELECT q_id, id, rc FROM (
             |    SELECT q_id, id,
             |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id) AS rc
             |    FROM scored) WHERE rc <= 50),
             |${TextQueries.DfCutWeightsSql},
             |wq AS (SELECT doc_id AS q_id, term, w AS wq FROM w WHERE doc_id < 5),
             |ss AS (
             |  SELECT wq.q_id, w.doc_id AS id, SUM(w.w * wq.wq) AS score
             |  FROM w JOIN wq USING (term) WHERE w.doc_id != wq.q_id
             |  GROUP BY 1, 2),
             |s50 AS (
             |  SELECT q_id, id, rd FROM (
             |    SELECT q_id, id,
             |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, id) AS rd
             |    FROM ss) WHERE rd <= 50),
             |f AS (
             |  SELECT COALESCE(d.q_id, s.q_id) AS q_id, COALESCE(d.id, s.id) AS id,
             |    COALESCE(d.rc, 0) AS dense_rank, COALESCE(s.rd, 0) AS sparse_rank,
             |    COALESCE(1000000 // (60 + d.rc), 0)
             |      + COALESCE(1000000 // (60 + s.rd), 0) AS rrf_e6
             |  FROM d50 d FULL OUTER JOIN s50 s
             |    ON d.q_id = s.q_id AND d.id = s.id),
             |r AS (
             |  SELECT q_id, id, rrf_e6, dense_rank, sparse_rank,
             |    row_number() OVER (PARTITION BY q_id ORDER BY rrf_e6 DESC, id) AS rank
             |  FROM f)
             |SELECT q_id, CAST(rank AS INTEGER) AS rank, id,
             |  CAST(rrf_e6 AS BIGINT) AS rrf_e6,
             |  CAST(dense_rank AS INTEGER) AS dense_rank,
             |  CAST(sparse_rank AS INTEGER) AS sparse_rank
             |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_maxsim ★ (new r5) — ColBERT-style LATE-INTERACTION retrieval
    // (Khattab & Zaharia 2020): documents and queries are BAGS of token
    // vectors (here: pseudo-docs of 4 vectors, doc_id = vec_id / 4;
    // queries = docs 0–1, 8 token vectors total) and
    // score(q, d) = Σ_{t ∈ q} max_{v ∈ d} cos(t, v).
    // Scale shape: the query token bag is broadcast (tiny by
    // definition); the corpus token stream makes ONE narrow pass
    // computing pair cosines map-side; the max-then-sum collapses
    // through TWO hash aggs with map-side partials — (q, doc, q_tok)
    // max then (q, doc) sum — so shuffled bytes are docs×queries rows,
    // never token-pair rows; the per-query top-10 reuses [[heapTopK]]
    // (constant-size per-partition heaps, no corpus shuffle into
    // n_queries reducer tasks).
    // EXACT-INTEGER determinism trick (the q_kmeans_iter move applied
    // to ranking): each PAIR cosine is quantized to e6 BEFORE max/sum,
    // so max-of-longs and sum-of-longs are order-independent and both
    // engines rank identical integers — the only cross-engine surface
    // is per-pair rounding of the pairs that can REACH a group max
    // (every pair within 1 of its (q, doc, q_tok) max: a tied pair
    // flipping up, or a lone max flipping down, changes the exported
    // sum; pairs further below cannot). Measured min distance of that
    // set to a .5 boundary: 6.9e-4 / 1.7e-3 / 4.7e-5 e6-units at
    // sf0.001/0.01/0.1 — ≥ 470 × the ~1e-7 e6-unit cross-engine
    // double-fold noise (SimilaritySpec re-measures at the spec SF on
    // every run).
    QueryDef(
      "q_maxsim",
      (s: SparkSession, dir: String) => {
        import graft.functions.ExactMath
        val toks = guarded(s, dir)
          .select(ExactMath.divTrunc(col("vec_id"), lit(4L)).as("doc_id"),
            col("vec_id"), col("embedding"))
        val qToks = broadcast(
          toks.filter(col("doc_id") < 2)
            .select(col("doc_id").as("q_id"), col("vec_id").as("q_tok"),
              col("embedding").as("q_emb")))
        val pairs = toks.join(qToks, col("doc_id") =!= col("q_id"))
          .select(col("q_id"), col("doc_id"), col("q_tok"),
            round(cosine(col("q_emb"), col("embedding")) * 1000000)
              .cast("long").as("p_e6"))
        val scored = pairs
          .groupBy("q_id", "doc_id", "q_tok").agg(max("p_e6").as("m"))
          .groupBy("q_id", "doc_id").agg(sum("m").as("score_e6"))
        // score_e6 ≤ n_q_toks × 1e6 ≪ 2^53: exact through the double heap
        val pre = heapTopK(
          scored.select(col("q_id"), col("doc_id"),
            col("score_e6").cast("double")), 10)
        val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("id"))
        pre.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("id").as("doc_id"),
            col("score").cast("long").as("score_e6"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (
             |  SELECT vec_id // 4 AS doc_id, vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |  WHERE list_sum(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             |q AS (SELECT doc_id AS q_id, vec_id AS q_tok, v AS qv
             |      FROM e WHERE doc_id < 2),
             |pair AS (
             |  SELECT q.q_id, e.doc_id, q.q_tok,
             |    CAST(round(1000000 *
             |      list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*q.qv[i])) /
             |        (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             |         sqrt(list_sum(list_transform(q.qv, x -> x*x))))) AS BIGINT) AS p_e6
             |  FROM e CROSS JOIN q WHERE e.doc_id != q.q_id),
             |mx AS (SELECT q_id, doc_id, q_tok, MAX(p_e6) AS m
             |       FROM pair GROUP BY 1, 2, 3),
             |sc AS (SELECT q_id, doc_id, SUM(m) AS score_e6 FROM mx GROUP BY 1, 2),
             |r AS (
             |  SELECT q_id, doc_id, score_e6,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY score_e6 DESC, doc_id) AS rank
             |  FROM sc)
             |SELECT q_id, CAST(rank AS INTEGER) AS rank, doc_id,
             |  CAST(score_e6 AS BIGINT) AS score_e6
             |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sim_rerank ★ (new r5) — the two-stage TRUNCATED-DIMENSION
    // retrieval funnel (the matryoshka-embedding deployment pattern,
    // Kusupati et al. 2022): stage 1 scores the WHOLE corpus on only
    // the first 8 of 64 dims (⅛ of the FLOPs and — with a dim-sliced
    // column layout at rest — ⅛ of the scan bytes) and keeps the top
    // 50 per query via [[heapTopK]]; stage 2 re-scores ONLY those
    // 50×n_queries candidates with the exact 64-dim cosine. The rerank
    // join broadcasts the candidate id set (≤ k×n_q rows by
    // construction) against the corpus — an equi-join that prunes the
    // full-vector fetch to candidates, exactly how a production
    // two-tower funnel fetches full vectors from the index.
    // Determinism: BOTH stage boundaries compare e6-quantized integers
    // (candidate cut at coarse rank 50, final rank at 10; ties on
    // vec_id both engines); coarse uses its own zero-norm guard (first
    // 8 dims can be all-zero while the full vector is not).
    QueryDef(
      "q_sim_rerank",
      (s: SparkSession, dir: String) => {
        val k = 10
        val kCoarse = 50
        val e = guarded(s, dir)
        val q = broadcast(queriesDf(s, dir))
        val coarse = e.join(q, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            cosine(slice(col("embedding"), 1, 8), slice(col("q_emb"), 1, 8))
              .as("c"))
          .filter(col("c").isNotNull)
          .select(col("q_id"), col("vec_id"),
            round(col("c") * 1000000).cast("long").as("c_e6"))
        val cand = heapTopK(
          coarse.select(col("q_id"), col("vec_id"), col("c_e6").cast("double")), kCoarse)
          .select(col("q_id"), col("id").as("vec_id"),
            col("score").cast("long").as("c_e6"))
        val wc = Window.partitionBy("q_id").orderBy(col("c_e6").desc, col("vec_id"))
        val c50 = cand.withColumn("crank", row_number().over(wc))
          .filter(col("crank") <= kCoarse)
        // full-vector fetch pruned to the candidate ids (broadcast side)
        val rer = e.join(broadcast(c50), "vec_id")
          .join(q, "q_id")
          .select(col("q_id"), col("vec_id"), col("c_e6"),
            round(cosine(col("q_emb"), col("embedding")) * 1000000)
              .cast("long").as("cos_e6"))
        val w = Window.partitionBy("q_id").orderBy(col("cos_e6").desc, col("vec_id"))
        rer.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("q_id"), col("rank"), col("vec_id"),
            col("cos_e6"), col("c_e6"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |  WHERE list_sum(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
             |coarse AS (
             |  SELECT q.q_id, e.vec_id,
             |    CAST(round(1000000 *
             |      list_sum(list_transform(range(1, 9), i -> e.v[i]*q.qv[i])) /
             |        (sqrt(list_sum(list_transform(e.v[1:8], x -> x*x))) *
             |         sqrt(list_sum(list_transform(q.qv[1:8], x -> x*x))))) AS BIGINT) AS c_e6
             |  FROM e CROSS JOIN q
             |  WHERE e.vec_id != q.q_id
             |    AND list_sum(list_transform(e.v[1:8], x -> x*x)) > 0
             |    AND list_sum(list_transform(q.qv[1:8], x -> x*x)) > 0),
             |c50 AS (
             |  SELECT q_id, vec_id, c_e6 FROM (
             |    SELECT q_id, vec_id, c_e6,
             |      row_number() OVER (PARTITION BY q_id
             |        ORDER BY c_e6 DESC, vec_id) AS crank
             |    FROM coarse) WHERE crank <= 50),
             |rer AS (
             |  SELECT c.q_id, c.vec_id, c.c_e6,
             |    CAST(round(1000000 *
             |      list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*q.qv[i])) /
             |        (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             |         sqrt(list_sum(list_transform(q.qv, x -> x*x))))) AS BIGINT) AS cos_e6
             |  FROM c50 c
             |  JOIN e ON e.vec_id = c.vec_id
             |  JOIN q ON q.q_id = c.q_id),
             |r AS (
             |  SELECT q_id, vec_id, cos_e6, c_e6,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY cos_e6 DESC, vec_id) AS rank
             |  FROM rer)
             |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, cos_e6, c_e6
             |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_maxsim_rerank ★ (new r5) — the PRODUCTION late-interaction
    // deployment (the PLAID/ColBERTv2 serving shape): stage 1 retrieves
    // candidate documents with ONE POOLED vector per doc (elementwise
    // mean of its token vectors — a 4× cheaper scan than token-level
    // MaxSim, and the single-vector index is what sits in the ANN
    // store), stage 2 re-scores ONLY the top-20 candidates with the
    // exact token-level MaxSim of q_maxsim. Candidate generation is a
    // broadcast of 2 pooled query vectors against the pooled corpus
    // (one narrow pass + heapTopK); the rerank joins the candidate doc
    // ids back to the TOKEN stream — an equi-join that fetches 20×4
    // token vectors per query, never the corpus.
    // Determinism: both stage boundaries compare e6 integers with
    // doc_id tie-break. Pooling sums 4 doubles per dim (order can
    // differ across engines: ~1e-16 relative, ~1e-10 e6-units after
    // the cosine); measured min pooled-cosine rounding margins:
    // 2.0e-3 / 5.4e-3 / 4.8e-6 e6-units at sf0.001/0.01/0.1 — the
    // thinnest is still ≥ 47 × the conservative 1e-7 e6-unit full
    // fold-noise bound and ≥ 10⁴ × the pooling-reorder noise.
    // Stage-2 margins are the q_maxsim within-1-of-max set restricted
    // to candidates (⊆ the measured full set). SimilaritySpec
    // re-measures the pooled margins at the spec SF on every run.
    QueryDef(
      "q_maxsim_rerank",
      (s: SparkSession, dir: String) => {
        import graft.functions.ExactMath
        val kCand = 20
        val toks = guarded(s, dir)
          .select(ExactMath.divTrunc(col("vec_id"), lit(4L)).as("doc_id"),
            col("vec_id"), col("embedding"))
        // pooled vector per doc: 64 codegen'd avg aggregates, one shuffle
        val pooled = toks.groupBy("doc_id")
          .agg(array((0 until Dim).map(i =>
            avg(col("embedding").getItem(i))): _*).as("pool"))
        val qPool = broadcast(pooled.filter(col("doc_id") < 2)
          .select(col("doc_id").as("q_id"), col("pool").as("q_pool")))
        val cand = heapTopK(
          pooled.join(qPool, col("doc_id") =!= col("q_id"))
            .select(col("q_id"), col("doc_id"),
              round(cosine(col("q_pool"), col("pool")) * 1000000)
                .cast("long").as("p_e6"))
            .filter(col("p_e6").isNotNull)
            .select(col("q_id"), col("doc_id"), col("p_e6").cast("double")),
          kCand)
          .select(col("q_id"), col("id").as("doc_id"),
            col("score").cast("long").as("pool_e6"))
        // exact token-level MaxSim on candidates only: max over the
        // candidate doc's tokens PER QUERY TOKEN, then sum over query
        // tokens (the q_maxsim semantics)
        val qToks = broadcast(toks.filter(col("doc_id") < 2)
          .select(col("doc_id").as("q_id"), col("vec_id").as("q_tok"),
            col("embedding").as("q_emb")))
        val pairs = toks.join(broadcast(cand), "doc_id")
          .join(qToks, "q_id")
          .select(col("q_id"), col("doc_id"), col("pool_e6"), col("q_tok"),
            round(cosine(col("q_emb"), col("embedding")) * 1000000)
              .cast("long").as("pe"))
        val scored = pairs
          .groupBy("q_id", "doc_id", "pool_e6", "q_tok").agg(max("pe").as("m"))
          .groupBy("q_id", "doc_id", "pool_e6").agg(sum("m").as("score_e6"))
        val w = Window.partitionBy("q_id").orderBy(col("score_e6").desc, col("doc_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("doc_id"),
            col("score_e6"), col("pool_e6"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (
             |  SELECT vec_id // 4 AS doc_id, vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |  WHERE list_sum(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             |dim AS (
             |  SELECT doc_id, i, AVG(v[i]) AS m
             |  FROM e, range(1, 65) r(i) GROUP BY doc_id, i),
             |pool AS (
             |  SELECT doc_id, list(m ORDER BY i) AS pool FROM dim GROUP BY doc_id),
             |qp AS (SELECT doc_id AS q_id, pool AS q_pool FROM pool WHERE doc_id < 2),
             |pscore AS (
             |  SELECT qp.q_id, p.doc_id,
             |    CAST(round(1000000 *
             |      list_sum(list_transform(range(1, 65), i -> p.pool[i]*qp.q_pool[i])) /
             |        (sqrt(list_sum(list_transform(p.pool, x -> x*x))) *
             |         sqrt(list_sum(list_transform(qp.q_pool, x -> x*x))))) AS BIGINT)
             |      AS p_e6
             |  FROM pool p CROSS JOIN qp
             |  WHERE p.doc_id != qp.q_id
             |    AND list_sum(list_transform(p.pool, x -> x*x)) > 0
             |    AND list_sum(list_transform(qp.q_pool, x -> x*x)) > 0),
             |cand AS (
             |  SELECT q_id, doc_id, p_e6 AS pool_e6 FROM (
             |    SELECT q_id, doc_id, p_e6,
             |      row_number() OVER (PARTITION BY q_id
             |        ORDER BY p_e6 DESC, doc_id) AS cr
             |    FROM pscore) WHERE cr <= 20),
             |q AS (SELECT doc_id AS q_id, vec_id AS q_tok, v AS qv
             |      FROM e WHERE doc_id < 2),
             |pair AS (
             |  SELECT c.q_id, c.doc_id, c.pool_e6, q.q_tok,
             |    CAST(round(1000000 *
             |      list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*q.qv[i])) /
             |        (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             |         sqrt(list_sum(list_transform(q.qv, x -> x*x))))) AS BIGINT) AS pe
             |  FROM cand c
             |  JOIN e ON e.doc_id = c.doc_id
             |  JOIN q ON q.q_id = c.q_id),
             |mx AS (SELECT q_id, doc_id, pool_e6, q_tok, MAX(pe) AS m
             |       FROM pair GROUP BY 1, 2, 3, 4),
             |sc AS (SELECT q_id, doc_id, pool_e6, SUM(m) AS score_e6
             |       FROM mx GROUP BY 1, 2, 3),
             |r AS (
             |  SELECT q_id, doc_id, score_e6, pool_e6,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY score_e6 DESC, doc_id) AS rank
             |  FROM sc)
             |SELECT q_id, CAST(rank AS INTEGER) AS rank, doc_id,
             |  CAST(score_e6 AS BIGINT) AS score_e6,
             |  CAST(pool_e6 AS BIGINT) AS pool_e6
             |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q_semdedup ★ (new r11) — SEMANTIC dedup by cluster-partitioned
    // similarity (Abbas et al. 2023, "SemDeDup"): every vector is
    // assigned to its nearest of 16 centroids (q_embed_cluster's exact
    // assignment — argmax margin ≥ 1.1e-5, measured there), pairwise
    // cosine runs ONLY within each cluster, and each vector reports its
    // max similarity to any cluster-mate plus a prune flag (≥ 0.5 to a
    // LOWER-id mate — the paper's "keep one representative" made
    // deterministic by keeping the smallest id; pair-local, no CC
    // iteration — q_dedup_groups owns the transitive-closure variant).
    // This is the third dedup-candidate geometry next to
    // q_embed_dedup's exact blocked n² and q_embed_dedup_lsh's sign-LSH
    // buckets: FLOPs drop from n²/2 to Σ n_c²/2 ≈ n²/(2k), and the
    // shuffle is ONE equi-join keyed on cluster id. The price, BY
    // DESIGN, is cross-cluster blindness: on this fixture 3 of the 14
    // corpus-wide cos ≥ 0.5 pairs co-cluster at sf0.1 (measured) —
    // at the noise-floor threshold this corpus operates at, cluster
    // boundaries cut through the dup band; the paper's regime
    // (near-identical dups, cos ≥ 0.9) co-clusters almost surely and k
    // grows with the corpus (n/k vectors per cluster ⇒ per-task work
    // constant). Fixed k = 16 head-of-corpus centroids keep the oracle
    // expressible, as in q_embed_cluster.
    // ORACLE-CHECKED: assignment margins per q_embed_cluster; every
    // within-cluster pair cosine is ≥ 1.6e-3 from the 0.5 cut
    // (measured: 7.2e-3 at sf0.01, 1.6e-3 at sf0.1 — the corpus-wide
    // q_embed_dedup margin, inherited by the subset); exported max is
    // order-insensitive and its e6 rounding margin is asserted in
    // SimilaritySpec. Zero-norm vectors are dropped in both engines
    // (zero-norm guard, file header).
    QueryDef(
      "q_semdedup",
      (s: SparkSession, dir: String) => {
        val asg = clusterAssigned(s, dir)
        val nbr = clusterPairs(asg)
        val agg = nbr.groupBy("vec_id")
          .agg(max("cos").as("max_cos"),
            max(when(col("cos") >= 0.5 && col("nb") < col("vec_id"), 1L)
              .otherwise(0L)).as("pruned"))
        asg.select(col("vec_id"), col("cid").cast("int").as("cluster_id"))
          .join(agg, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cluster_id"),
            round(col("max_cos") * 1000000).cast("long").as("max_sim_e6"),
            coalesce(col("pruned"), lit(0L)).as("pruned"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $ClusterPairSql,
             |agg AS (
             |  SELECT vec_id, MAX(cos) AS mx,
             |    MAX(CASE WHEN cos >= 0.5 AND nb < vec_id THEN 1 ELSE 0 END)
             |      AS pruned
             |  FROM p GROUP BY 1)
             |SELECT av.vec_id, CAST(av.cid AS INTEGER) AS cluster_id,
             |  CAST(round(mx * 1000000) AS BIGINT) AS max_sim_e6,
             |  CAST(COALESCE(pruned, 0) AS BIGINT) AS pruned
             |FROM av LEFT JOIN agg ON av.vec_id = agg.vec_id
             |ORDER BY av.vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_knn_graph ★ (new r11) — k-NN GRAPH construction, corpus-wide:
    // every vector's top-3 nearest cluster-mates, (vec_id, rk, nb,
    // cos_e6). The graph primitive under NN-descent/HNSW index seeding,
    // graph-based semantic clustering, and kNN label propagation — and
    // the shape q_sim_topk is NOT: there the query set is 5 fixed
    // vectors scanning the whole corpus; here EVERY vector is a query,
    // which is affordable only because candidates are cluster-blocked
    // (the [[clusterPairs]] n²/k equi-join, shared with q_semdedup —
    // the IVF-style build every production kNN-graph pipeline uses;
    // edges to out-of-cluster true neighbors are missed by design,
    // exactly the q_semdedup trade, and the standard refinement loop —
    // NN-descent's neighbor-of-neighbor expansion — is iterated re-runs
    // of this query's shape over the union of current edges).
    // Scale plan: the pair stream is never globally sorted — heapTopK's
    // per-partition constant-size heaps pre-reduce to ≤ 3 survivors per
    // (vector, partition) (per-partition heap memory is 3 × the
    // cluster-mates resident in that partition, bounded by how many
    // whole clusters a partition holds), then the rank window runs on
    // the survivor set. k = 16 fixture centroids as in q_embed_cluster;
    // at scale k grows with the corpus so n/k (per-cluster candidates,
    // per-vector work) stays constant.
    // ORACLE-CHECKED: rank boundaries and e6 exports are decided by
    // measured margins — min rank-3/rank-4 cosine gap 6.8e-6 (sf0.1),
    // min adjacent gap inside the top-3 1.0e-5 (sf0.01) / 2.2e-6
    // (gen-sf0.1 Heaps), min e6 round-half margin 2.8e-5 e6-units —
    // all ≥ 10³ × the ~1.4e-14 64-term fold-reorder noise bound
    // (≈ 1.4e-8 in e6-units); re-asserted per-fixture in
    // SimilaritySpec. Ties cannot occur (gaps measured nonzero); the
    // nb ASC tie-break still pins the order both engines produce.
    QueryDef(
      "q_knn_graph",
      (s: SparkSession, dir: String) =>
        knnBlockedTop3(s, dir)
          .select(col("vec_id"), col("rk").cast("long").as("rk"),
            col("nb"),
            round(col("cos") * 1000000).cast("long").as("cos_e6"))
          .orderBy("vec_id", "rk"),
      Some(s"""WITH $ClusterPairSql,
             |rk AS (
             |  SELECT vec_id, nb, cos,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY cos DESC, nb) AS r
             |  FROM p)
             |SELECT vec_id, CAST(r AS BIGINT) AS rk, nb,
             |  CAST(round(cos * 1000000) AS BIGINT) AS cos_e6
             |FROM rk WHERE r <= 3 ORDER BY vec_id, rk""".stripMargin)),

    // ------------------------------------------------------------------
    // q_knn_refine ★ (new r16, r15 verdict #6) — ONE NN-DESCENT
    // refinement round over the blocked graph (Dong et al. 2011):
    // q_knn_graph's cluster-blocked edges are documentedly blind to
    // out-of-cluster true neighbors, and pure neighbor-of-neighbor
    // expansion over a WITHIN-cluster graph can never escape a
    // cluster — so the round first augments the graph with the
    // deterministic stand-in for NN-descent's random init: RING edges
    // vec_id → vec_id+1 (an equi-join, no window; gaps from dropped
    // zero-norm ids just skip a link), which thread the id space
    // across every cluster boundary. Candidates = U ∪ (U ∘ U) over
    // the undirected union U = g0 ∪ g0ᵀ ∪ ring ∪ ringᵀ — each node's
    // neighbors and neighbors-of-neighbors, NN-descent's local join —
    // scored EXACTLY and re-ranked top-3. Per-node candidate volume
    // is deg(U)² ≤ (2·(3+2))² — corpus-LINEAR total, the property
    // that makes NN-descent the standard graph-build at index scale
    // (further rounds iterate this query's shape on its own output).
    // SimilaritySpec plants a cross-cluster near-dup pair and pins
    // recall@3-vs-exact improving over the blocked graph, and that
    // g0's edges survive re-ranking (the refined graph only improves).
    // Oracle: identical construction in SQL off the shared
    // ClusterPairSql relations (one copy of the geometry).
    QueryDef(
      "q_knn_refine",
      (s: SparkSession, dir: String) => {
        // Eager localCheckpoint, not persist (r17 optimization): the
        // round references g0 ~6× (fwd/rev × U∘U sides); persist served
        // execution but left the blocked-build subtree in the logical
        // plan 6×, re-analyzed per action — checkpointing swaps it for
        // a LogicalRDD leaf (see q_knn_descent's note).
        val g0 = Ckpt.boundary(knnBlockedTop3(s, dir).select(
          col("vec_id").as("a"), col("nb").as("b")))
        val e = guarded(s, dir).select(col("vec_id"), col("embedding"))
        descentRound(e, ringEdges(e), g0)
          .select(col("vec_id"), col("rk").cast("long").as("rk"),
            col("nb"),
            round(col("cos") * 1000000).cast("long").as("cos_e6"))
          .orderBy("vec_id", "rk")
      },
      Some(s"""WITH $ClusterPairSql,
             |$DescentBaseSql,
             |${descentRoundSql(1, "gr0")}
             |SELECT vec_id, CAST(r AS BIGINT) AS rk, nb,
             |  CAST(round(cos * 1000000) AS BIGINT) AS cos_e6
             |FROM rk1 WHERE r <= 3 ORDER BY vec_id, rk""".stripMargin)),

    // ------------------------------------------------------------------
    // q_knn_descent ★ (new r17, r16 verdict #5) — NN-descent ITERATED
    // TO CONVERGENCE: the standard graph-build runs [[descentRound]]'s
    // local join on its own output until no rank improves (Dong et al.
    // 2011). Driver-orchestrated rounds (the q_pagerank3 pattern: the
    // graph persists, each round is a candidate re-join + re-rank),
    // declared at [[KnnDescentRounds]] rounds with an early stop at a
    // FIXED POINT — the round is a pure function of the graph (the
    // ring init edges stay permanent candidates), so a converged graph
    // reproduces itself and stopping early provably equals running the
    // full unroll, which is exactly what lets the oracle UNROLL the
    // fixed round count as generated CTEs (one copy of the round
    // operator, [[descentRoundSql]], shared with q_knn_refine's).
    // Scale: each round is corpus-linear (deg² candidates per node),
    // and the convergence probe is one exceptAll count per round —
    // negligible against the round it can save. SimilaritySpec pins
    // monotone recall@3 per round and convergence on the planted
    // cross-cluster fixture.
    QueryDef(
      "q_knn_descent",
      (s: SparkSession, dir: String) => {
        // e and ring are referenced ~2× per round × 3 rounds (plus the
        // ring's own e self-join): checkpoint each ONCE so rounds read
        // cached blocks instead of re-scanning parquet / re-running the
        // ring join per reference (r18; guide §5 cache-the-reused)
        val e = Ckpt.boundary(
          guarded(s, dir).select(col("vec_id"), col("embedding")))
        val ring = Ckpt.boundary(ringEdges(e))
        // Eager localCheckpoint, NOT persist (r17 optimization): the
        // round operator references its input graph ~6× (fwd/rev × the
        // U∘U sides) and each round's output feeds the next, so with
        // plain persist the LOGICAL plan grows ~6× per round — the
        // cache serves execution, but the driver re-ANALYZES the full
        // unrolled tree on every action, and by round 3 analysis alone
        // dominated the row (measured sf0.1: 28–35 s/run; plan-
        // truncated: ~2 s/round, see OPTIMIZATION_r17.md).
        // localCheckpoint materializes the rows AND swaps the lineage
        // for a LogicalRDD leaf, which is exactly the guide's
        // truncate-the-plan remedy for iterative loops (§3.3/§5); a
        // cluster deployment with executor churn would use reliable
        // checkpoint() on the same boundaries. Results are unchanged:
        // the checkpoint only stores what the round already computed.
        var gEdges = Ckpt.boundary(knnBlockedTop3(s, dir).select(
          col("vec_id").as("a"), col("nb").as("b")))
        var prevCk = gEdges // the live checkpoint backing gEdges
        var out: DataFrame = null
        var r = 0
        var converged = false
        while (r < KnnDescentRounds && !converged) {
          r += 1
          if (r < KnnDescentRounds) {
            // convergence probe FUSED into the round's materialization
            // (r18, r17 verdict #6): the old probe was a separate
            // exceptAll shuffle job per round. The round output and the
            // per-node old-edge sets are both hash-partitioned by the
            // node id (the rank window / the previous checkpoint's
            // preserved partitioning), so the membership join rides the
            // same checkpoint job, and the probe itself is a
            // shuffle-free isEmpty over the checkpointed rows.
            // Equivalence: per-node top-3 edges are DISTINCT (a, b)
            // pairs on both sides, so "every new edge ∈ old graph" +
            // "per-node top-3 never shrinks" (candidates ⊇ graph) ⟺
            // the old multiset exceptAll test.
            val oldNbs = gEdges.groupBy("a")
              .agg(collect_set(col("b")).as("old_nbs"))
            val full = Ckpt.boundary(descentRound(e, ring, gEdges)
              .join(oldNbs, col("vec_id") === col("a"), "left")
              .withColumn("novel", col("old_nbs").isNull ||
                !array_contains(col("old_nbs"), col("nb")))
              .drop("a", "old_nbs"))
            converged = full.filter(col("novel")).isEmpty
            // `full` is materialized — the previous round's checkpoint
            // blocks have no remaining reader; free them now instead of
            // waiting for the ContextCleaner (r17 ADVICE)
            Ckpt.free(prevCk)
            prevCk = full
            out = full
            gEdges = full.select(col("vec_id").as("a"), col("nb").as("b"))
          } else {
            // final declared round: its result feeds ONLY the output
            // action — no probe, no checkpoint; the round rides into
            // the final job instead of materializing twice
            out = descentRound(e, ring, gEdges)
          }
        }
        out.select(col("vec_id"), col("rk").cast("long").as("rk"),
            col("nb"),
            round(col("cos") * 1000000).cast("long").as("cos_e6"))
          .orderBy("vec_id", "rk")
      },
      Some(s"""WITH $ClusterPairSql,
             |$DescentBaseSql,
             |${(1 to KnnDescentRounds)
                  .map(r => descentRoundSql(r, s"gr${r - 1}"))
                  .mkString(",\n")}
             |SELECT vec_id, CAST(r AS BIGINT) AS rk, nb,
             |  CAST(round(cos * 1000000) AS BIGINT) AS cos_e6
             |FROM rk$KnnDescentRounds WHERE r <= 3
             |ORDER BY vec_id, rk""".stripMargin)),

    // ------------------------------------------------------------------
    // q_hard_negatives ★ (new r14) — HARD-NEGATIVE MINING for
    // contrastive training: every vector's top-3 most-similar
    // neighbors with a DIFFERENT label — the negatives that sit
    // closest to the anchor in embedding space, the pairs a
    // contrastive/metric-learning run actually wants in its batches
    // (random negatives are trivially separable; training signal comes
    // from the hard ones). q_knn_graph's shape with a label-inequality
    // gate: the SHARED cluster-blocked pair relation ([[clusterPairs]],
    // n²/k not n²) joined twice against the (vec_id → label)
    // projection — equi-joins on the vector id, the label frame a thin
    // column of the corpus — filtered to cross-label pairs, then
    // heapTopK pre-reduce + rank window (never a global sort of the
    // pair stream). Out-of-cluster hard negatives are missed by
    // design — the q_semdedup/q_knn_graph trade restated; production
    // refines by re-running over a union of probed clusters.
    // ORACLE-CHECKED: rank boundaries ride the same measured-margin
    // regime as q_knn_graph (the filtered stream is a SUBSET of the
    // same cluster-mate cosines; boundaries re-measured per fixture:
    // min rank-3/rank-4 gap 2.2e-6 (sf0.1) / 1.5e-6 (gen-sf0.1) /
    // 2.1e-6 (gen-sf1), min adjacent top-3 gap 3.4e-7 (gen-sf1), min
    // e6 round-half margin 5.6e-5 e6-units ≈ 5.6e-11 cos — every
    // decision ≥ 10³ × the ~1.4e-14 64-term fold-reorder noise;
    // SimilaritySpec re-asserts exactness on the fixture).
    QueryDef(
      "q_hard_negatives",
      (s: SparkSession, dir: String) => {
        val lbl = corpus(s, dir).select(col("vec_id"), col("label"))
        val cross = clusterPairs(clusterAssigned(s, dir))
          .join(lbl, "vec_id")
          .join(lbl.select(col("vec_id").as("nb"),
            col("label").as("nb_label")), "nb")
          .filter(col("label") =!= col("nb_label"))
        val pre = heapTopK(
          cross.select(col("vec_id"), col("nb"), col("cos")), 3)
          .select(col("q_id").as("vec_id"), col("id").as("nb"),
            col("score").as("cos"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("cos").desc, col("nb"))
        pre.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .join(lbl, "vec_id")
          .join(lbl.select(col("vec_id").as("nb"),
            col("label").as("nb_label")), "nb")
          .select(col("vec_id"), col("label"),
            col("rk").cast("long").as("rk"), col("nb"), col("nb_label"),
            round(col("cos") * 1000000).cast("long").as("cos_e6"))
          .orderBy("vec_id", "rk")
      },
      Some(s"""WITH $ClusterPairSql,
             |lb AS (SELECT vec_id, label FROM embeddings WHERE COALESCE(isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), TRUE)),
             |hn AS (
             |  SELECT p.vec_id, la.label AS label, p.nb,
             |    nl.label AS nb_label, p.cos,
             |    row_number() OVER (PARTITION BY p.vec_id
             |      ORDER BY p.cos DESC, p.nb) AS r
             |  FROM p
             |  JOIN lb la ON la.vec_id = p.vec_id
             |  JOIN lb nl ON nl.vec_id = p.nb
             |  WHERE la.label <> nl.label)
             |SELECT vec_id, label, CAST(r AS BIGINT) AS rk, nb, nb_label,
             |  CAST(round(cos * 1000000) AS BIGINT) AS cos_e6
             |FROM hn WHERE r <= 3 ORDER BY vec_id, rk""".stripMargin)),

    // ------------------------------------------------------------------
    // q_ann_recall ★ (new r11) — IN-ENGINE retrieval evaluation:
    // recall@10 of the declared ANN path (q_sim_ann's radius-2
    // multi-probe sign-LSH, via the SHARED [[annTop10]]) against the
    // exact ground truth (q_sim_topk via the shared [[exactTop10]]),
    // per query: (q_id, n_exact, n_hit, recall_e4). This is the metric
    // every production ANN deployment monitors continuously — index
    // drift, plane/codebook regressions, and corpus shift all surface
    // as recall drops — and computing it IN the engine (one 50-row
    // join of two top-k relations; the cost is the two underlying
    // rankings, whose plans are the declared queries' own) is how a
    // pipeline runs it at scale: no exporting rankings to a driver
    // script. Both rankings' top-10 SETS are already margin-pinned by
    // their own queries' measured rank gaps, so the eval adds NO new
    // float decision — intersection counts and the half-up e4 ratio
    // are exact integers. On this near-random corpus recall ≈ 0.5
    // (the SimilaritySpec-measured LSH operating point); the spec
    // cross-checks the declared row against a driver-side set
    // intersection of the two declared rankings.
    QueryDef(
      "q_ann_recall",
      (s: SparkSession, dir: String) => {
        import graft.functions.ExactMath
        val x = exactTop10(s, dir).select(col("q_id"), col("vec_id"))
        val a = annTop10(s, dir).select(col("q_id"), col("vec_id"))
          .withColumn("hit", lit(1L))
        x.join(a, Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("q_id"), col("n_exact"), col("n_hit"),
            ExactMath.divTrunc(col("n_hit") * 20000L + col("n_exact"),
              col("n_exact") * 2L).as("recall_e4"))
          .orderBy("q_id")
      },
      Some(s"""WITH $AnnRankedSql,
             |$ExactRankedSql,
             |ax AS (SELECT q_id, vec_id FROM ranked WHERE rank <= 10),
             |xx AS (SELECT q_id, vec_id FROM xranked WHERE rank <= 10),
             |j AS (
             |  SELECT xx.q_id, COUNT(*) AS n_exact,
             |    CAST(SUM(CASE WHEN ax.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_hit
             |  FROM xx LEFT JOIN ax ON ax.q_id = xx.q_id AND ax.vec_id = xx.vec_id
             |  GROUP BY 1)
             |SELECT q_id, CAST(n_exact AS BIGINT) AS n_exact, n_hit,
             |  CAST((n_hit * 20000 + n_exact) // (n_exact * 2) AS BIGINT)
             |    AS recall_e4
             |FROM j ORDER BY q_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_matryoshka ★ (new r15) — TRUNCATED-DIMENSION retrieval curve
    // (Matryoshka representation learning, Kusupati et al. 2022: MRL
    // embeddings are consumed at prefix dimensions d ≪ D to trade
    // index size/bandwidth for recall; the deployment question is
    // "how much recall does the d-dim prefix keep?"). Per curve point
    // d ∈ {8, 16, 32}: top-10 by cosine over the FIRST d dimensions
    // vs the exact full-dim ground truth ([[exactTop10]] — the same
    // relation q_sim_topk declares), per query:
    // (d, q_id, n_exact, n_hit, recall_e4).
    // ONE corpus×queries scoring pass serves every curve point (the
    // q_ivf_recall one-pass rule): all three prefix cosines are
    // computed as columns of a single scan, unpivoted, and ranked via
    // [[heapTopK]] on the folded (d·1024 + q_id) key — no per-d
    // re-scan, no global sort. Prefix cosines reuse the fused codegen
    // [[cosine]] over array slices (same sequential fold the oracle's
    // list_sum performs — the q_sim_topk operand-tree parity argument,
    // unchanged by truncation). A vector whose d-prefix is all-zero
    // has no d-cosine and is excluded at that curve point in both
    // engines (the zero-norm guard, prefix edition). Set-intersection
    // counts add no new float decision beyond each ranking's own
    // rank-10 margin (spec-measured, the family rule). On these
    // near-random embeddings the curve is LIVE: recall rises with d
    // and the 8-dim point sits well below 1.0 (spec-pinned).
    QueryDef(
      "q_matryoshka",
      (s: SparkSession, dir: String) => {
        import graft.functions.ExactMath
        val ds = Seq(8, 16, 32)
        val q = broadcast(queriesDf(s, dir))
        val prefC = ds.map(d => cosine(slice(col("q_emb"), 1, d),
          slice(col("embedding"), 1, d)).as(s"c$d"))
        val scored = guarded(s, dir).join(q, col("vec_id") =!= col("q_id"))
          .select(Seq(col("q_id"), col("vec_id")) ++ prefC: _*)
        val un = scored.select(col("q_id"), col("vec_id"),
            explode(array(ds.map(d =>
              struct(lit(d.toLong).as("d"), col(s"c$d").as("cos"))): _*))
              .as("dc"))
          .select(col("q_id"), col("vec_id"),
            col("dc.d").as("d"), col("dc.cos").as("cos"))
          .filter(col("cos").isNotNull)
        val keyed = un.select((col("d") * 1024L + col("q_id")).as("q_id"),
          col("vec_id"), col("cos"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("id"))
        val top = heapTopK(keyed, 10)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(ExactMath.divTrunc(col("q_id"), lit(1024L)).as("d"),
            pmod(col("q_id"), lit(1024L)).as("q_id"), col("id").as("vec_id"),
            lit(1L).as("hit"))
        val xd = exactTop10(s, dir).select(col("q_id"), col("vec_id"),
          explode(array(ds.map(d => lit(d.toLong)): _*)).as("d"))
        xd.join(top, Seq("d", "q_id", "vec_id"), "left")
          .groupBy("d", "q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("d"), col("q_id"), col("n_exact"), col("n_hit"),
            ExactMath.divTrunc(col("n_hit") * 20000L + col("n_exact"),
              col("n_exact") * 2L).as("recall_e4"))
          .orderBy("d", "q_id")
      },
      Some {
        val ds = Seq(8, 16, 32)
        val per = ds.map { d =>
          s"""tsc$d AS (
             |  SELECT q.vec_id AS q_id, e.vec_id,
             |    list_sum(list_transform(range(1, $d + 1), i -> e.v[i]*q.v[i])) /
             |      (sqrt(list_sum(list_transform(e.v[1:$d], x -> x*x))) *
             |       sqrt(list_sum(list_transform(q.v[1:$d], x -> x*x)))) AS cos
             |  FROM e CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id < 5) q
             |  WHERE e.vec_id != q.vec_id
             |    AND list_sum(list_transform(e.v[1:$d], x -> x*x)) > 0
             |    AND list_sum(list_transform(q.v[1:$d], x -> x*x)) > 0),
             |trk$d AS (
             |  SELECT q_id, vec_id,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
             |      AS rank
             |  FROM tsc$d),
             |j$d AS (
             |  SELECT xx.q_id, COUNT(*) AS n_exact,
             |    CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_hit
             |  FROM (SELECT q_id, vec_id FROM xranked WHERE rank <= 10) xx
             |  LEFT JOIN (SELECT q_id, vec_id FROM trk$d WHERE rank <= 10) t
             |    ON t.q_id = xx.q_id AND t.vec_id = xx.vec_id
             |  GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        val sel = ds.map(d =>
          s"""SELECT CAST($d AS BIGINT) AS d, q_id,
             |  CAST(n_exact AS BIGINT) AS n_exact, n_hit,
             |  CAST((n_hit * 20000 + n_exact) // (n_exact * 2) AS BIGINT)
             |    AS recall_e4 FROM j$d""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings
           |  WHERE list_sum(list_transform(embedding,
           |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND isfinite(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           |$ExactRankedSql,
           |$per
           |SELECT * FROM (
           |$sel)
           |ORDER BY d, q_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q_ivf_recall ★ (new r11) — the IVF TUNING CURVE: recall@10 of
    // the declared IVF path (the SHARED [[ivfCandidates]] — q_sim_ivf's
    // own quantizer, assignment, and probe order) against the exact
    // ground truth ([[exactTop10]]), per (nprobe, query) for nprobe ∈
    // {1,2,4,8} ∩ [1,k]. THE metric an IVF deployment is tuned with:
    // nprobe trades scan fraction (≈ nprobe/k of the corpus) for
    // recall, and the operating point is read off this curve — in the
    // engine, not in a driver script. ONE candidate pass at the
    // largest nprobe serves every curve point (a j-probe candidate set
    // is a PREFIX of the jmax-probe set — filter on probe_rank, no
    // second corpus scan), one rank window per (nprobe, query)
    // partition over the candidate-sized stream, and a
    // 10·|js|·|queries|-row join against the exact relation. The
    // set-intersection counts add NO new float decision (both
    // rankings' top-10 sets are margin-pinned by their own queries);
    // counts and the half-up e4 ratio are exact integers. The curve is
    // LIVE on this corpus: recall rises with nprobe and sits strictly
    // below 1.0 at the low end (spec-pinned monotone + live).
    QueryDef(
      "q_ivf_recall",
      (s: SparkSession, dir: String) => {
        import graft.functions.ExactMath
        // probe only as wide as the largest USABLE curve point (k in
        // 4..7 → 4, not min(k,8)): candidates past it are filtered by
        // every curve point and would be scored for nothing
        val (cand, k) = ivfCandidates(s, dir,
          kk => Seq(1, 2, 4, 8).filter(_ <= kk).max)
        val js = Seq(1L, 2L, 4L, 8L).filter(_ <= k)
        val candJ = cand
          .select(col("q_id"), col("vec_id"), col("probe_rank"), col("cos"),
            explode(typedLit(js)).as("nprobe"))
          .filter(col("probe_rank") < col("nprobe"))
        val w = Window.partitionBy("nprobe", "q_id")
          .orderBy(col("cos").desc, col("vec_id"))
        val top = candJ.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("nprobe"), col("q_id"), col("vec_id"), lit(1L).as("hit"))
        val xj = exactTop10(s, dir)
          .select(col("q_id"), col("vec_id"), explode(typedLit(js)).as("nprobe"))
        xj.join(top, Seq("nprobe", "q_id", "vec_id"), "left")
          .groupBy("nprobe", "q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("nprobe"), col("q_id"), col("n_exact"), col("n_hit"),
            ExactMath.divTrunc(col("n_hit") * 20000L + col("n_exact"),
              col("n_exact") * 2L).as("recall_e4"))
          .orderBy("nprobe", "q_id")
      },
      Some(s"""WITH ${ivfCandSql("p.jmax")},
             |js AS (SELECT js.j FROM (SELECT unnest([1,2,4,8]) AS j) js, p WHERE js.j <= p.k),
             |cj AS (
             |  SELECT js.j AS nprobe, s.q_id, s.vec_id, s.cos
             |  FROM scored s, js WHERE s.probe_rank <= js.j),
             |rkd AS (
             |  SELECT nprobe, q_id, vec_id,
             |    row_number() OVER (PARTITION BY nprobe, q_id
             |      ORDER BY cos DESC, vec_id) AS rank
             |  FROM cj),
             |ax AS (SELECT nprobe, q_id, vec_id FROM rkd WHERE rank <= 10),
             |$ExactRankedSql,
             |xx AS (
             |  SELECT js.j AS nprobe, q_id, vec_id FROM xranked, js WHERE rank <= 10),
             |agg AS (
             |  SELECT xx.nprobe, xx.q_id, COUNT(*) AS n_exact,
             |    CAST(SUM(CASE WHEN ax.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_hit
             |  FROM xx LEFT JOIN ax ON ax.nprobe = xx.nprobe
             |    AND ax.q_id = xx.q_id AND ax.vec_id = xx.vec_id
             |  GROUP BY 1, 2)
             |SELECT CAST(nprobe AS BIGINT) AS nprobe, q_id,
             |  CAST(n_exact AS BIGINT) AS n_exact, n_hit,
             |  CAST((n_hit * 20000 + n_exact) // (n_exact * 2) AS BIGINT)
             |    AS recall_e4
             |FROM agg ORDER BY nprobe, q_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q_pq_recall ★ (new r12) — recall@10 of the PQ-ADC ranking (the
    // SHARED [[adcTop10]] — q_pq_adc's own codebooks, sub-assignment,
    // and e6 lookup-table scoring) against the exact ground truth
    // ([[exactTop10]]), per query — completing the retrieval-eval
    // family (ann/ivf/minhash/pq): PQ trades 128× memory for recall,
    // and THIS number is what the trade costs on this corpus, measured
    // in the engine from the same bodies the declared queries run (no
    // second implementation to drift). The eval adds NO new float
    // decision — both top-10 sets are margin-pinned by their own
    // queries; intersection counts and the half-up e4 ratio are exact
    // integers. Cost: the two underlying rankings + a 50-row join.
    QueryDef(
      "q_pq_recall",
      (s: SparkSession, dir: String) => {
        import graft.functions.ExactMath
        val x = exactTop10(s, dir).select(col("q_id"), col("vec_id"))
        val a = adcTop10(s, dir).select(col("q_id"), col("vec_id"))
          .withColumn("hit", lit(1L))
        x.join(a, Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("q_id"), col("n_exact"), col("n_hit"),
            ExactMath.divTrunc(col("n_hit") * 20000L + col("n_exact"),
              col("n_exact") * 2L).as("recall_e4"))
          .orderBy("q_id")
      },
      Some(s"""WITH $AdcRankedSql,
             |$ExactRankedSql,
             |ax AS (SELECT q_id, vec_id FROM adcranked WHERE rank <= 10),
             |xx AS (SELECT q_id, vec_id FROM xranked WHERE rank <= 10),
             |j AS (
             |  SELECT xx.q_id, COUNT(*) AS n_exact,
             |    CAST(SUM(CASE WHEN ax.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_hit
             |  FROM xx LEFT JOIN ax ON ax.q_id = xx.q_id AND ax.vec_id = xx.vec_id
             |  GROUP BY 1)
             |SELECT q_id, CAST(n_exact AS BIGINT) AS n_exact, n_hit,
             |  CAST((n_hit * 20000 + n_exact) // (n_exact * 2) AS BIGINT)
             |    AS recall_e4
             |FROM j ORDER BY q_id""".stripMargin))
  )
}
