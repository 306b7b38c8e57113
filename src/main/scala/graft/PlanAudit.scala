package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: sweep EVERY declared query's physical plan for the
  * anti-patterns the 100 TB design bans — cartesian products,
  * broadcast-nested-loop joins, and unpartitioned (single-task)
  * window operators — and print one line per flagged query. The
  * documented exceptions are listed here so the sweep stays
  * zero-noise: a new flag means a planner regression or an
  * undocumented scale hazard. Usage: PlanAudit [sfDir]
  */
object PlanAudit {

  /** (query, flag) pairs that are DESIGNED, with the reason.
    * (lazy: unions [[forcedBroadcastCounts]], declared below.)
    */
  lazy val documented: Set[(String, String)] = Set(
    // explicit Θ(n²) exact fallback, blocked + FLOPs-budgeted; at test
    // SF AQE renders the blocked crossJoin as a BNLJ over the
    // broadcast-able block, at scale it is a shuffled cartesian —
    // both are the same designed quadratic
    ("q_embed_dedup", "CartesianProduct"),
    ("q_embed_dedup", "BroadcastNestedLoopJoin"),
    // tiny broadcast side × non-equi predicate (vec_id != q_id): BNLJ
    // over a 5-row broadcast IS the intended stream-the-corpus plan
    ("q_sim_topk", "BroadcastNestedLoopJoin"),
    ("q_ann_recall", "BroadcastNestedLoopJoin"), // exactTop10's query-set nested loop
    // the ≤5-query-set nested loops of the prefix scorer + exactTop10
    // (the q_sim_topk shape, one per ranking side)
    ("q_matryoshka", "BroadcastNestedLoopJoin"),
    ("q_ivf_recall", "BroadcastNestedLoopJoin"), // same exactTop10 ground-truth leg
    ("q_pq_recall", "BroadcastNestedLoopJoin"),  // same exactTop10 ground-truth leg
    // same shape: 8-row query-token bag / 5-row query set broadcast,
    // non-equi self-exclusion predicate, corpus streams once
    ("q_maxsim", "BroadcastNestedLoopJoin"),
    ("q_sim_rerank", "BroadcastNestedLoopJoin"),
    ("q_maxsim_rerank", "BroadcastNestedLoopJoin"), // 2-row pooled query broadcast
    // 1-row broadcast total joined with no key — nested-loop over 1 row
    ("q_mix_weights", "BroadcastNestedLoopJoin"),
    ("q_tfidf", "BroadcastNestedLoopJoin"),
    ("q_collocation_pmi", "BroadcastNestedLoopJoin"), // 1-row bigram total
    ("q_pagerank_iter", "BroadcastNestedLoopJoin"),   // 1-row node count
    ("q_pagerank3", "BroadcastNestedLoopJoin"),       // 1-row node count ×3 steps
    ("q_abtest", "BroadcastNestedLoopJoin"),          // 1-row × 1-row arm cross
    ("q_doc_sim_sparse", "BroadcastNestedLoopJoin"),  // 1-row n_docs for idf
    ("q_drift_tvd", "BroadcastNestedLoopJoin"),       // 1-row min/max day broadcast
    ("q_fk_orphans", "BroadcastNestedLoopJoin"),      // 1-row × 1-row count cross per edge
    ("q_hybrid_rrf", "BroadcastNestedLoopJoin"),      // 1-row n_docs + 5-query broadcast
    ("q_join_estimate", "BroadcastNestedLoopJoin"),   // 1-row max-key broadcast
    ("q_mix_temperature", "BroadcastNestedLoopJoin"), // 1-row totals broadcast
    ("q_rfm", "BroadcastNestedLoopJoin"),             // 1-row corpus max day
    ("q_rle_profile", "BroadcastNestedLoopJoin"),     // 1-row × 1-row stats cross
    ("q_simhash_dup", "BroadcastNestedLoopJoin"),     // 1-row n_docs for idf weight
    ("q_trend_ols", "BroadcastNestedLoopJoin"),       // 1-row corpus min day
    ("q_vocab_growth", "BroadcastNestedLoopJoin"),    // 1-row max doc_id
    ("q_dsir", "BroadcastNestedLoopJoin"),            // 1-row L(R)−L(T) normalizer
    ("q_doremi_weights", "BroadcastNestedLoopJoin"),  // 1-row corpus-mean + 1-row share denominators
    ("q_dsir_eval", "BroadcastNestedLoopJoin"),       // 1-row normalizer + 1-row×1-row scalar assembly
    ("q_embed_ood", "BroadcastNestedLoopJoin"),       // 1-row vector count
    // windows over the USER table / the ≤10-row growth-curve frame,
    // not the corpus (see each query's scaladoc)
    ("q_rfm", "globalWindow"),
    ("q_vocab_growth", "globalWindow"),
    // rank window over ≤20 rows AFTER TakeOrderedAndProject
    ("q_embed_dedup_lsh", "globalWindow"),
    // windows over the KEY HISTOGRAM (vocabulary-sized), not the corpus
    ("q_skew_stats", "globalWindow"),
    // window over the DAYS table (time-span-sized, ≤36525 rows for a
    // century), not the corpus — see the q_rate_anomaly scaladoc
    ("q_rate_anomaly", "globalWindow"),
    // prefix-sum carry over the HOUR-BUCKET frame (time-span-sized:
    // ~720 rows for the 30-day corpus window), not the sweep rows —
    // see the q_interval_join scaladoc; advisor r6 adjudicated "none
    // required now", with the two-level day-partitioned prefix sum as
    // the escape hatch if the time span ever scales with the corpus
    ("q_interval_join", "globalWindow"),

  ) ++ forcedBroadcastCounts.keySet.map(q => (q, "forcedBroadcast"))

  /** Every explicit broadcast() hint whose side is NOT structurally
    * bounded (see [[boundedRows]]) must carry its written cardinality
    * bound here — the r7 interval-join fix (a data-dependent correction
    * set was force-broadcast; would OOM the driver at 100 TB) is a bug
    * CLASS, so the sweep enforces the bound-or-drop rule machine-side.
    * Scalar-agg totals, LIMIT heads, and driver-built literal frames
    * auto-pass. Keyed by the EXPECTED COUNT of unbounded hints, not mere
    * presence (r8 advice): a presence allowlist would silently cover a
    * future second, genuinely new unbounded hint added to an
    * already-documented query — the sweep flags any observed excess.
    */
  val forcedBroadcastCounts: Map[String, Int] = Map(
    // nation (25 rows) / region (5 rows): schema-fixed dims
    "q_join_broadcast" -> 1,
    "q_join_star" -> 2, // nation AND region hinted
    // per-event_type frames: 5-value closed domain (q_user_overlap
    // joins its frame twice — once per pair side)
    "q_approx_percentile" -> 1,
    "q_user_overlap" -> 2,
    "q_winsorize" -> 1,
    "q_outlier_fences" -> 1,
    // per-lang frame: 5-value closed domain
    "q_sample_weighted" -> 1,
    // DSIR bucket model: b = md5(token) % 512 — a 512-value closed
    // domain by construction, the broadcastable "model table" of the
    // hashed-n-gram generative model (persists at rest at 100 TB)
    "q_dsir" -> 1,
    // eval instantiates dsirWeighted twice (keep set + mean-logw
    // scalars) — the same 512-bucket model hint at each site
    "q_dsir_eval" -> 2,
    // langid model: K×256 weight rows + K bias rows — closed-domain
    // model tables by construction (the q_dsir argument; K = |langs|,
    // the at-rest fastText-weights analogue). Count 4: the per-lang
    // eval table joins two aggregations of the same scored frame
    // (support/correct by true lang × predicted counts), so each of
    // the two model hints appears on both sides of that self-join
    "q_langid_apply" -> 4,
    // 64-dim centroid frame: dimension-count-sized closed domain (the
    // at-rest "model" exactly like the IVF codebook)
    "q_embed_ood" -> 1,
    // per-source frames: 20-value closed domain, joined once per pair side
    "q_contamination_matrix" -> 2,
    // hour-bucket frames: time-span-sized (~720 rows for the 30-day
    // window), same bound as the allowlisted q_interval_join carry
    "q_rolling_distinct" -> 1,
    "q_interval_join" -> 1,
    // query sets: id-prefix filters selecting ≤5 fixed query
    // vectors / ≤2 query docs (the declared top-k/rerank contract).
    // The rerank funnels additionally broadcast their STAGE-1 OUTPUT —
    // per-query top-50 candidate ids (≤ 250 rows) for q_sim_rerank;
    // pooled queries + query token bags + candidate ids (≤ 2·k docs)
    // for q_maxsim_rerank — all products of the fixed query-set
    // cardinality × a rank cut, never corpus-sized
    "q_sim_topk" -> 1,
    "q_sim_ann" -> 1,
    // (q_bm25 dropped r18: its fused single-scan body broadcasts only
    // driver-built local frames — structurally bounded, auto-pass)
    "q_ann_recall" -> 2, // both rankers' query-set broadcasts in one plan
    "q_matryoshka" -> 2, // the one-pass prefix scorer's query set + exactTop10's
    "q_sim_ivf" -> 1,
    "q_ivf_recall" -> 2, // ivfCandidates' probed query set + exactTop10's query set
    "q_pq_recall" -> 1,  // exactTop10's query set (the ADC lookup table is a bounded local relation)
    "q_hybrid_rrf" -> 2, // query vectors + ≤5-query-doc sparse term bag
    // (counts are HINT-NODE OCCURRENCES in the analyzed tree: reusing a
    // hinted frame at two join sites counts twice — q_sim_rerank's
    // query set feeds both the coarse and the rerank join)
    "q_sim_rerank" -> 3,
    "q_maxsim" -> 1,
    "q_maxsim_rerank" -> 3,
    // eval-suite shingles: the decontamination contract is an
    // asymmetric probe — the eval side is a BENCHMARK (KBs–MBs,
    // doc_id < 20 here), never the corpus; see the query's scaladoc
    "q_decontaminate" -> 1,
    // the manifest's contamination leg reuses the q_decontaminate
    // shape: the broadcast side is the eval set's distinct 13-gram
    // hashes (benchmark-sized by contract), never the corpus
    "q_source_manifest" -> 1)

  /** One sweep finding: query, flag, whether it's in [[documented]]. */
  final case class Finding(query: String, flag: String, documented: Boolean)

  /** Structural proof that a broadcast-hinted subtree is driver-safe:
    * bounded rows REGARDLESS of corpus size. True iff the tree is built
    * from literal/driver-side leaves, or every path to an unbounded leaf
    * passes through a row-count-capping node (grouping-free aggregate →
    * 1 row, LIMIT → k rows), composed through row-non-increasing ops
    * (project/filter/sort/dedup-to-subset) and joins/unions of bounded
    * sides. Grouping aggregates and distincts do NOT prove a bound
    * (their cardinality is the key domain — corpus-sized in general);
    * queries that broadcast those must carry a written domain bound in
    * [[documented]] under the `forcedBroadcast` flag.
    */
  private def boundedRows(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case a: Aggregate => a.groupingExpressions.isEmpty || boundedRows(a.child)
      // only a GLOBAL limit proves a global row bound; a bare LocalLimit
      // caps rows PER PARTITION (total scales with partition count), so
      // it recurses instead of passing — the GlobalLimit∘LocalLimit pair
      // that .limit(k) produces still passes via the GlobalLimit case
      // (r8 advice)
      case _: GlobalLimit => true
      case l: LocalLimit => boundedRows(l.child)
      case j: Join => boundedRows(j.left) && boundedRows(j.right)
      case u: Union => u.children.forall(boundedRows)
      case _: Project | _: Filter | _: Sort | _: SubqueryAlias |
          _: Repartition | _: RepartitionByExpression | _: Window |
          _: ResolvedHint | _: Deduplicate | _: Distinct =>
        boundedRows(p.children.head)
      case _ => false
    }
  }

  /** Count of structurally-unbounded BROADCAST hints in an analyzed
    * logical plan. Hints live as ResolvedHint in the ANALYZED plan (the
    * optimizer folds them into Join nodes); collectWithSubqueries so a
    * hint inside an IN/EXISTS block can't hide. Public so the streaming
    * sweep and PlanAuditSpec's planted-hint sharpness check share the
    * exact predicate the batch sweep enforces.
    */
  def unboundedHintCount(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    analyzed.collectWithSubqueries {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) &&
            !boundedRows(h.child) => h
    }.size

  /** Streaming-topology sweep — closes the r8 blind spot where hints and
    * join shapes INSIDE a stream_* topology were invisible to [[sweep]]
    * (which only sees the post-drain batch plan; stream_join_e2e's
    * corpus-sized dim broadcast slipped through exactly there). Each
    * topology builder returns the PRE-`start()` streaming DataFrame the
    * declared query drains; only its ANALYZED plan exists (optimization
    * and physical planning require `start()`), so the checks are the
    * analyzed-plan subset of the batch sweep's: unbounded broadcast
    * hints (same [[boundedRows]] predicate), single-task analytic
    * windows, and condition-less (cartesian) joins. Flags carry a
    * `stream:` prefix so a topology finding can never be satisfied by a
    * batch-plan allowlist entry for the same query name.
    *
    * Remaining non-swept streaming surface: `stream_ingest_e2e`'s
    * topology is a bare file source → schema'd decode (no join, no
    * window, no hint — the transforms live in `foreachBatch`, whose
    * per-batch frames are BATCH plans built by `StreamingIngest` and
    * spec-covered); nothing there can host the hazard class this sweep
    * targets.
    */
  def sweepStreaming(spark: SparkSession, dir: String): Seq[Finding] =
    graft.queries.StreamingQueries.topologies.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val analyzed = fn(spark, dir).queryExecution.analyzed
          val globalWin = analyzed.collectWithSubqueries {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }.nonEmpty
          val cartesian = analyzed.collectWithSubqueries {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join
                if j.condition.isEmpty &&
                  j.joinType != org.apache.spark.sql.catalyst.plans.LeftSemi &&
                  j.joinType != org.apache.spark.sql.catalyst.plans.LeftAnti => j
          }.nonEmpty
          val nUnbounded = unboundedHintCount(analyzed)
          Seq(
            "stream:cartesianJoin" -> cartesian,
            "stream:globalWindow" -> globalWin)
            .collect { case (f, true) =>
              Finding(name, f, documented.contains((name, f))) } ++
            (if (nUnbounded > 0)
              Seq(Finding(name, "stream:forcedBroadcast", documented = false))
             else Nil)
        } catch { case e: Throwable =>
          Seq(Finding(name,
            s"stream:PLAN ERROR ${Option(e.getMessage).getOrElse(e.toString).take(100)}",
            documented = false))
        }
    }

  /** EXECUTED-plan streaming sweep (r10 — the r9 verdict's residual #4):
    * [[sweepStreaming]] sees only the ANALYZED pre-start plan
    * (optimization and physical planning require `start()`), so
    * physical-only hazards inside a stream — a cartesian/BNLJ the
    * per-batch planner chose, a single-task analytic window, or a
    * stateful operator whose state landed in ONE partition — were
    * reviewed, not machine-checked. This sweep DRAINS each registered
    * topology into a throwaway memory sink (AvailableNow, the same
    * 8-state-partition conf the declared drains use) and walks
    * `lastExecution.executedPlan` — the physical plan of the final
    * micro-batch, the one that performed watermark finalization — with
    * the batch sweep's physical checks plus a state-distribution sanity
    * check (a StatefulOperator with numPartitions == 1 means ALL
    * streaming state serializes through one task — the streaming analog
    * of the single-task window). Flags carry a `streamx:` prefix so a
    * finding can never be satisfied by a batch or analyzed-plan
    * allowlist entry.
    */
  def auditExecutedTopology(spark: SparkSession, name: String,
      df: org.apache.spark.sql.DataFrame,
      mode: String = "append"): Seq[Finding] = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val sink = s"plan_audit_${name.replaceAll("[^A-Za-z0-9_]", "_")}"
    spark.catalog.dropTempView(sink)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = df.writeStream.format("memory").queryName(sink)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      // bounded wait: a stalled AvailableNow drain (source
      // misconfiguration) must yield a finding, not hang the sweep
      val drained = q.awaitTermination(300000L)
      if (!drained) {
        try q.stop() catch { case _: Exception => () }
        return Seq(Finding(name, "streamx:TIMEOUT", documented = false))
      }
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      if (exec == null)
        Seq(Finding(name, "streamx:NO EXECUTION", documented = false))
      else {
        val plan = exec.executedPlan
        val s = plan.toString
        val singleTaskState = plan.collect {
          case p: org.apache.spark.sql.execution.SparkPlan
              with org.apache.spark.sql.execution.streaming.operators
                .stateful.StatefulOperator
              if p.stateInfo.exists(_.numPartitions == 1) => p
        }.nonEmpty
        val globalWin = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }.nonEmpty
        Seq(
          "streamx:cartesianJoin" -> s.contains("CartesianProduct"),
          "streamx:bnlJoin" -> s.contains("BroadcastNestedLoopJoin"),
          "streamx:globalWindow" -> globalWin,
          "streamx:singleTaskState" -> singleTaskState)
          .collect { case (f, true) =>
            Finding(name, f, documented.contains((name, f))) }
      }
    } catch { case e: Throwable =>
      Seq(Finding(name,
        s"streamx:PLAN ERROR ${Option(e.getMessage).getOrElse(e.toString).take(100)}",
        documented = false))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.streams.active.filter(q => Option(q.name).contains(sink))
        .foreach(_.stop())
      spark.catalog.dropTempView(sink)
    }
  }

  /** Run [[auditExecutedTopology]] over every registered topology. */
  def sweepStreamingExecuted(spark: SparkSession, dir: String): Seq[Finding] =
    graft.queries.StreamingQueries.topologies.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try auditExecutedTopology(spark, name, fn(spark, dir),
          graft.queries.StreamingQueries.topologyModes.getOrElse(name, "append"))
        catch { case e: Throwable =>
          Seq(Finding(name,
            s"streamx:PLAN ERROR ${Option(e.getMessage).getOrElse(e.toString).take(100)}",
            documented = false))
        }
    }

  /** Sweep every declared query's physical plan. Pure analysis — builds
    * each plan without executing it (e2e queries still run their setup
    * side effects, which is why sweeps run at sf0.001). Any thrown plan
    * error surfaces as an undocumented `PLAN ERROR` finding rather than
    * aborting the sweep.
    *
    * For the stream_* e2e queries this sweep sees only the post-drain
    * batch plan; the topology INSIDE the stream is covered by
    * [[sweepStreaming]] (r9 — closed the r8 blind spot). Callable from
    * both `main` and PlanAuditSpec so the undocumented=0 invariant is
    * machine-enforced per `sbt test`.
    */
  def sweep(spark: SparkSession, dir: String): Seq[Finding] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val fs =
        try {
          val qe = fn(spark, dir).queryExecution
          val plan = qe.executedPlan.toString
          // A Window with an empty partition spec runs in ONE task.
          // Detected on the optimized logical TREE, not the plan string:
          // TreeNode.argString OMITS empty sequences, so an empty
          // partition spec never prints as `[]` and the r4 string regex
          // silently matched nothing (caught by PlanAuditSpec's stale
          // check, r7). collectWithSubqueries so a window inside a
          // subquery expression can't hide.
          val globalWin = qe.optimizedPlan.collectWithSubqueries {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }.nonEmpty
          // A broadcast() hint whose side has no structural row bound is
          // a driver-OOM-at-100TB hazard unless its domain bound is
          // written down (the r7 interval-join bug class). Compared by
          // COUNT against the allowlist (r8 advice): an allowlisted
          // query that grows a second unbounded hint is flagged.
          val nUnbounded = unboundedHintCount(qe.analyzed)
          Seq(
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
            "globalWindow" -> globalWin)
            .collect { case (f, true) =>
              Finding(name, f, documented.contains((name, f))) } ++
            (if (nUnbounded > 0)
              Seq(Finding(name, "forcedBroadcast",
                nUnbounded <= forcedBroadcastCounts.getOrElse(name, 0)))
             else Nil)
        } catch { case e: Throwable =>
          Seq(Finding(name,
            s"PLAN ERROR ${Option(e.getMessage).getOrElse(e.toString).take(100)}",
            documented = false))
        }
      spark.catalog.clearCache()
      fs
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session(Harness.envCpus, "ERROR")
    val findings = sweep(spark, dir) ++ sweepStreaming(spark, dir) ++
      sweepStreamingExecuted(spark, dir)
    findings.foreach { f =>
      println(s"${f.query}: ${f.flag}${if (f.documented) " (documented)" else "  <-- UNDOCUMENTED"}")
    }
    println(s"AUDIT DONE undocumented=${findings.count(!_.documented)}")
    spark.stop()
  }
}
