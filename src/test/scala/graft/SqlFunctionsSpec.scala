package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, SimHash64, VectorOps}

/** The SQL registration surface: every custom expression is reachable
  * from `spark.sql(...)` and agrees with its DataFrame-API twin.
  */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  test("graft_cosine in SQL == VectorOps.cosine") {
    // deterministic subset via a predicate — limit() without orderBy
    // takes rows in task-completion order and three independent
    // limit(50) scans need not agree
    def e = Tables(spark, sfDir, "embeddings").filter(col("vec_id") < 50)
    e.createOrReplaceTempView("e_sql")
    val sql = spark.sql(
      """SELECT a.vec_id, b.vec_id, graft_cosine(a.embedding, b.embedding)
        |FROM e_sql a JOIN e_sql b ON a.vec_id < b.vec_id""".stripMargin)
      .as[(Long, Long, Double)].collect().toMap2
    val api = e.as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")))
      .as[(Long, Long, Double)].collect().toMap2
    assert(sql == api)
  }

  test("graft_vec_norm2 in SQL == VectorOps.vecNorm2 (finite/NaN/Inf/zero)") {
    val vs = Seq(Seq(3f, 4f), Seq.fill(4)(0f), Seq(1f, Float.NaN),
      Seq(Float.PositiveInfinity, 1f))
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").createOrReplaceTempView("n2_sql")
    val sql = spark.sql("SELECT id, graft_vec_norm2(v) FROM n2_sql")
      .as[(Long, Double)].collect().toMap
    val api = spark.table("n2_sql")
      .select(col("id"), VectorOps.vecNorm2(col("v")))
      .as[(Long, Double)].collect().toMap
    assert(sql(0L) == 25.0 && api(0L) == 25.0)
    assert(sql(1L) == 0.0 && api(1L) == 0.0)
    assert(sql(2L).isNaN && api(2L).isNaN)
    assert(sql(3L).isPosInfinity && api(3L).isPosInfinity)
  }

  test("graft_simhash64 / graft_java_hash / graft_shingles in SQL match the API") {
    val docs = Seq("the quick brown fox", "héllo wörld 日本語", "x")
    docs.map(Tuple1(_)).toDF("text").createOrReplaceTempView("d_sql")
    val sql = spark.sql(
      """SELECT graft_simhash64(split(text, ' ')),
        |  graft_java_hash(text),
        |  graft_shingles(split(text, ' '), 2),
        |  graft_ahash64(encode(text, 'UTF-8')),
        |  graft_fnv64(text)
        |FROM d_sql""".stripMargin)
      .as[(Long, Int, Seq[String], Long, Long)].collect().toSeq
    val want = docs.map { t =>
      (SimHash64.hashTokens(t.split(" ").toSeq), t.hashCode,
        t.split(" ", -1).toSeq.sliding(2).filter(_.size == 2)
          .map(_.mkString(" ")).toSeq.distinct,
        graft.functions.AHash64.hash(t.getBytes("UTF-8")),
        SimHash64.fnv1a64(t.getBytes("UTF-8")))
    }
    assert(sql == want)
  }

  test("graft_lsh_code(v, bits, dim) in SQL == hashPlanes + lshCode API") {
    val api = Tables(spark, sfDir, "embeddings").filter(col("vec_id") < 30)
      .select(col("vec_id"),
        VectorOps.lshCode(col("embedding"), VectorOps.hashPlanes(8, 64)).as("c"))
      .as[(Long, Long)].collect().toMap
    Tables(spark, sfDir, "embeddings").filter(col("vec_id") < 30)
      .createOrReplaceTempView("e2_sql")
    val sql = spark.sql(
      "SELECT vec_id, graft_lsh_code(embedding, 8, 64) FROM e2_sql")
      .as[(Long, Long)].collect().toMap
    assert(sql == api)
  }

  test("graft_frame_energy and graft_quant_i8 in SQL produce the documented structs") {
    val row = spark.sql(
      """SELECT graft_frame_energy(encode('abc', 'UTF-8'), 2).n_frames,
        |  graft_frame_energy(encode('abc', 'UTF-8'), 2).sum_e,
        |  graft_quant_i8(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT))).nnz
        |""".stripMargin).as[(Long, Long, Long)].head()
    assert(row == ((2L, 97L + 98L + 99L, 2L)))
    // the array form tiles the same payload: energies sum to sum_e
    val es = spark.sql(
      "SELECT graft_frame_energies(encode('abc', 'UTF-8'), 2)")
      .as[Seq[Long]].head()
    assert(es == Seq(97L + 98L, 99L))
  }

  test("a non-literal static argument fails loudly") {
    Seq(Tuple1("t")).toDF("text").createOrReplaceTempView("bad_sql")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles(split(text, ' '), length(text)) FROM bad_sql")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("q_sql_q4: the EXISTS subquery decorrelates to a left semi join") {
    // Spark has no per-row subquery executor — if decorrelation failed
    // the query would not plan at all — but the CLAIM in the scaladoc
    // is the semi-join shape, so pin it: one LeftSemi on l_orderkey,
    // no fan-out join of lineitem into orders
    val df = SparkEntry.queries("q_sql_q4")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"no LeftSemi in:\n$plan")
    assert(df.collect().map(_.getLong(1)).sum > 0)
  }

  test("q_sql_q17: both correlated scalar aggs decorrelate to partkey aggregates") {
    val df = SparkEntry.queries("q_sql_q17")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // decorrelated = no scalar-subquery expression survives optimization;
    // the per-part count/sum appear as plain aggregates joined back
    assert(!opt.contains("scalar-subquery"), s"undecorrelated subquery in:\n$opt")
    assert(opt.contains("Aggregate"), s"no aggregate in:\n$opt")
    // exact-integer threshold: every surviving lineitem is strictly
    // below 0.2*avg(qty) of its part (recheck against the raw tables)
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), round(col("l_quantity") * 100).cast("long").as("qc"))
    val perPart = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), sum("qc").as("s"))
    val small = li.join(perPart, "l_partkey")
      .filter(col("qc") * 5 * col("n") < col("s"))
    assert(df.collect().map(_.getLong(1)).sum == small.count())
  }

  test("q_sql_q21: EXISTS + NOT EXISTS decorrelate to one semi and one anti join, no fan-out") {
    val df = SparkEntry.queries("q_sql_q21")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // the decorrelation stress shape: both correlated probes against the
    // SAME table the outer block scans must become PROBING joins — a
    // rewrite that materialized matches would multiply l1 rows and
    // corrupt numwait
    assert("LeftSemi".r.findAllIn(opt).size == 1, s"expected exactly one LeftSemi in:\n$opt")
    assert("LeftAnti".r.findAllIn(opt).size == 1, s"expected exactly one LeftAnti in:\n$opt")
    assert(!opt.contains("exists-subquery") && !opt.contains("ExistenceJoin"),
      s"undecorrelated existence probe in:\n$opt")
    // no-fan-out cross-check: recompute numwait with hand-built probing
    // joins over the raw tables and compare totals
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val l1 = li.filter(col("l_returnflag") === "R")
    val otherSupp = li.select(col("l_orderkey").as("k"), col("l_suppkey").as("s"))
    val semi = l1.join(otherSupp,
      col("l_orderkey") === col("k") && col("l_suppkey") =!= col("s"), "left_semi")
    val otherLate = l1.select(col("l_orderkey").as("k"), col("l_suppkey").as("s"))
    val anti = semi.join(otherLate,
      col("l_orderkey") === col("k") && col("l_suppkey") =!= col("s"), "left_anti")
    val expected = anti
      .join(Tables(spark, sfDir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, sfDir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, sfDir, "nation").filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .count()
    val rows = df.collect()
    // The declared query carries LIMIT 100; the hand-built cross-check is
    // un-limited. The total comparison is only valid while every
    // qualifying supplier survives the limit — assert that precondition
    // so pointing sfDir at a bigger fixture fails loudly here instead of
    // masking a fan-out bug behind limit truncation (r7 advice).
    assert(rows.length < 100,
      s"q21 LIMIT reached (${rows.length} rows) — total cross-check invalid at this SF")
    assert(rows.map(_.getLong(1)).sum == expected)
  }

  test("q_sql_q20: nested IN + correlated scalar agg decorrelate to semi joins, no fan-out") {
    val df = SparkEntry.queries("q_sql_q20")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // the composed decorrelation: both IN probes become LEFT SEMI joins
    // (outer on s_suppkey, inner part-prefix on l_partkey) and the
    // correlated scalar agg becomes a per-partkey aggregate joined back
    // — nothing survives as a per-row subquery expression
    assert(!opt.contains("scalar-subquery"), s"undecorrelated scalar agg in:\n$opt")
    assert(!opt.contains("list-subquery") && !opt.contains("ListQuery"),
      s"undecorrelated IN probe in:\n$opt")
    // THREE semis is the optimal shape: outer IN on s_suppkey, the part
    // prefix probe on the offer branch, AND Catalyst re-using the prefix
    // probe inside the decorrelated demand aggregate (partition-pruning
    // the demand re-aggregation to cold-ring parts — the plan you'd want
    // at 100 TB: the lineitem-wide demand agg only aggregates the ~1/42
    // of parts the outer block can ever reference)
    assert("LeftSemi".r.findAllIn(opt).size == 3,
      s"expected exactly three LeftSemi joins in:\n$opt")
    assert(opt.contains("Aggregate"), s"no decorrelated demand aggregate in:\n$opt")
    // hand-built cross-check over the raw tables, incl. the NULL-on-empty
    // semantics: a part with no 'R' shipments in the window must EXCLUDE
    // its offers (filter on null comparison drops the row)
    val li = Tables(spark, sfDir, "lineitem")
    val demand = li.filter(col("l_returnflag") === "R" &&
        col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
      .groupBy(col("l_partkey").as("dk"))
      .agg(sum(round(col("l_quantity") * 100).cast("long")).as("dsum"))
    val coldRing = Tables(spark, sfDir, "part")
      .filter(col("p_name").startsWith("cold ring")).select("p_partkey")
    val qualSupp = li.filter(col("l_returnflag") === "N")
      .join(coldRing, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(demand, col("l_partkey") === col("dk"))
      .filter(round(col("l_quantity") * 100).cast("long") * 2 > col("dsum"))
      .select(col("l_suppkey")).distinct()
    val expected = Tables(spark, sfDir, "supplier")
      .join(Tables(spark, sfDir, "nation").filter(col("n_regionkey") === 3),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_name").collect().map(_.getString(0)).sorted
    val got = df.collect().map(_.getString(0))
    assert(got.nonEmpty, "q20 empty at this SF — fixture calibration broke")
    assert(got.sameElements(expected),
      s"q20 mismatch: got ${got.length} rows, expected ${expected.length}")
  }

  test("q_sql_q22: NOT EXISTS decorrelates to one anti join; uncorrelated scalar aggs stay once-executed") {
    val df = SparkEntry.queries("q_sql_q22")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // the correlated NOT EXISTS must become a LEFT ANTI probe on
    // o_custkey — no ExistenceJoin, no fan-out
    assert("LeftAnti".r.findAllIn(opt).size == 1, s"expected one LeftAnti in:\n$opt")
    assert(!opt.contains("ExistenceJoin"), s"unrewritten existence probe in:\n$opt")
    // the UNCORRELATED threshold aggs are CORRECT as scalar subqueries
    // (executed once, folded to a literal) — assert they survived as
    // such rather than being joined per-row
    assert(opt.contains("scalar-subquery"), s"expected once-executed scalar aggs in:\n$opt")
    // hand-built cross-check over the raw tables
    val cn = Tables(spark, sfDir, "customer")
      .join(Tables(spark, sfDir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_regionkey").isin(1, 3))
      .select(col("c_custkey"), col("n_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"), col("c_acctbal"))
    val pos = cn.filter(col("c_acctbal") > 0.0)
      .agg(count(lit(1)).as("n"), sum("bal_c").as("s")).collect()(0)
    val urgent = Tables(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val expected = cn.filter(col("bal_c") * pos.getLong(0) > pos.getLong(1))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("n_name").agg(count(lit(1)).as("numcust"), sum("bal_c").as("tot"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toMap2
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "q22 empty at this SF — fixture calibration broke")
    assert(got.map(r => ((r._1, r._2), r._3)).toMap ==
      expected.map { case ((n, c), t) => ((n, c), t) })
  }

  test("q_sql_q13: one null-preserving LeftOuter, ON-filters pushed to the orders scan, zero bucket real") {
    val df = SparkEntry.queries("q_sql_q13")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // exactly one outer join, and it stays OUTER (a planner that
    // rewrote it inner would still produce rows — just the wrong ones)
    assert("LeftOuter".r.findAllIn(opt).size == 1, s"expected one LeftOuter in:\n$opt")
    // the ON-clause non-key filters apply to the null-SUPPLYING side
    // only, so pushing them below the join into the orders scan is
    // semantics-preserving and is the plan we want at 100 TB (the scan
    // prunes ~96% of orders before the shuffle); what must NOT appear
    // is the filter hoisted ABOVE the join, where it would discard the
    // null-padded zero-order customers
    val joinIdx = opt.indexOf("Join LeftOuter")
    val filterIdx = opt.indexOf("LIKE %NOT%SPECIFIED%")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"ON filter not pushed below the outer join:\n$opt")
    // null-preservation carries data at every SF: customers whose every
    // order was rejected by the ON filter land in c_count = 0
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.getOrElse(0L, 0L) > 0, s"zero bucket empty: $rows")
    // cross-check the whole histogram against a hand-built aggregation
    val qualifying = Tables(spark, sfDir, "orders")
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .filter(col("o_orderdate") >= "1998-01-01" && col("o_orderdate") < "1998-07-01")
      .select("o_custkey", "o_orderkey")
    val expected = Tables(spark, sfDir, "customer")
      .join(qualifying, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows == expected)
  }

  test("q_sql_q15: argmax scalar subquery once-executed, supplier-keyed join, no fan-out") {
    val df = SparkEntry.queries("q_sql_q15")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // the MAX(total_e4) threshold must survive as a once-executed
    // scalar subquery (folded to a literal at runtime), not a per-row
    // re-aggregation of lineitem
    assert(opt.contains("scalar-subquery"), s"expected once-executed scalar MAX in:\n$opt")
    // exactly one join: supplier x revenue on the key (the revenue CTE
    // must not be joined to itself or cross-joined to the max)
    assert("Join".r.findAllIn(opt).size == 1, s"expected one join in:\n$opt")
    // cross-check the winner against a hand-built argmax
    import org.apache.spark.sql.expressions.Window
    val rev = Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("total_e4"))
    val expected = rev.withColumn("r", rank().over(
      Window.orderBy(col("total_e4").desc))).filter(col("r") === 1)
      .select("l_suppkey", "total_e4")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = df.select("s_suppkey", "total_e4")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("q_sql_q18: grouped-HAVING IN decorrelates to one LeftSemi on the aggregate, deterministic LIMIT") {
    val df = SparkEntry.queries("q_sql_q18")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // one LeftSemi per fact side: Catalyst propagates the o_orderkey
    // membership constraint through the o_orderkey = l_orderkey join
    // equality and plants the semi probe on BOTH orders and lineitem —
    // a constraint-propagation BONUS prune (lineitem shrinks before
    // the big join), not a fan-out
    val nSemi = "LeftSemi".r.findAllIn(opt).size
    assert(nSemi >= 1 && nSemi <= 2, s"expected 1-2 LeftSemi in:\n$opt")
    assert(!opt.contains("ExistenceJoin"), s"unrewritten existence probe in:\n$opt")
    // the semi-join probe side is the AGGREGATED having frame: the
    // HAVING filter must sit above an Aggregate on l_orderkey inside
    // the semi join's right subtree (grep: a Filter on sum_qty
    // threshold appears after the LeftSemi marker in tree print order)
    val semiIdx = opt.indexOf("Join LeftSemi")
    assert(semiIdx >= 0 && opt.indexOf("Aggregate [l_orderkey", semiIdx) > semiIdx,
      s"semi probe not fed by the orderkey aggregate:\n$opt")
    // determinism of the LIMIT: the ORDER BY is a total order, so two
    // runs agree row-for-row
    val a = df.collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q_sql_q18")(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("q_sql_q2: correlated scalar-MIN decorrelates to an aggregate join, no residual subquery") {
    val df = SparkEntry.queries("q_sql_q2")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // RewriteCorrelatedScalarSubquery must have turned the per-part
    // `= (SELECT MIN ...)` into a min-per-partkey aggregate joined
    // back — a surviving scalar-subquery marker would mean per-row
    // re-execution of the region-restricted supply aggregation
    assert(!opt.contains("scalar-subquery"), s"correlated MIN not decorrelated:\n$opt")
    assert(!opt.contains("Cartesian") && !opt.contains("BroadcastNestedLoop"),
      s"non-equi join shape in:\n$opt")
    // winners really are per-part minima: re-derive with a window rank
    import org.apache.spark.sql.expressions.Window
    val got = df.select("p_partkey", "s_name", "cost_c").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    val perPartMin = got.groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    assert(got.forall { case (p, _, c) => c == perPartMin(p) })
  }

  test("q_sql_q11: both self-scalar reductions once-executed; threshold rows exact") {
    val df = SparkEntry.queries("q_sql_q11")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert("scalar-subquery".r.findAllIn(opt).size >= 2,
      s"expected two once-executed scalar reductions in:\n$opt")
    assert(!opt.contains("Cartesian") && !opt.contains("BroadcastNestedLoop"),
      s"non-equi join shape in:\n$opt")
    // cross-check against a hand-built 2x-mean cut
    val valC = Tables(spark, sfDir, "lineitem")
      .join(Tables(spark, sfDir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, sfDir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_regionkey") === 1)
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("val_c"))
    val rows = valC.collect().map(r => (r.getLong(0), r.getLong(1)))
    val (n, tot) = (rows.length.toLong, rows.map(_._2).sum)
    val expected = rows.filter { case (_, v) => v * n > 2 * tot }.toMap
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("q_sql_q16: NOT IN plans a plain LeftAnti equi-join (null guards defeat the NAAJ trap)") {
    val df = SparkEntry.queries("q_sql_q16")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // with nullable keys NOT IN must plan a null-aware anti join,
    // which only exists as a broadcast nested loop — the IS NOT NULL
    // guards exist precisely so Catalyst can prove the plain LeftAnti
    assert(opt.contains("LeftAnti"), s"expected LeftAnti in:\n$opt")
    assert(!opt.contains("BroadcastNestedLoop") && !opt.contains("Cartesian"),
      s"null-aware anti fell back to a nested loop:\n$opt")
  }

  test("q_sql_q19: the repeated equi-conjunct is factored out of the disjunction — one equi join, no cartesian") {
    val df = SparkEntry.queries("q_sql_q19")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert("Join Inner".r.findAllIn(opt).size == 1, s"expected one inner join in:\n$opt")
    assert(!opt.contains("Cartesian") && !opt.contains("BroadcastNestedLoop"),
      s"disjunction defeated equi-key extraction:\n$opt")
    // the join keys really are the factored p_partkey = l_partkey pair
    assert(opt.contains("(p_partkey"), s"equality not on the join node:\n$opt")
    // derived OR-filters pushed below the join on BOTH scans: the
    // part-only disjunction (p_type/p_size) and the lineitem-only
    // disjunction (l_quantity bands)
    val joinIdx = opt.indexOf("Join Inner")
    assert(opt.indexOf("p_type", joinIdx) > joinIdx, s"no part-side derived filter:\n$opt")
    assert(opt.indexOf("l_quantity", joinIdx) > joinIdx, s"no lineitem-side derived filter:\n$opt")
  }

  test("q_sql_q6: pure scan-agg — every predicate reaches the parquet scan, no join") {
    val df = SparkEntry.queries("q_sql_q6")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Join"), s"Q6 must be join-free:\n$opt")
    // all three predicate families land in the scan's PushedFilters:
    // the shipdate band, the discount band, the quantity cap
    val phys = df.queryExecution.executedPlan.toString
    val pushedIdx = phys.indexOf("PushedFilters")
    assert(pushedIdx >= 0, s"no PushedFilters in:\n$phys")
    val pushed = phys.substring(pushedIdx, (pushedIdx + 600).min(phys.length))
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(pushed.contains(c), s"$c not pushed to the scan: $pushed"))
    // cross-check the single row against a hand-built filter-agg
    val want = Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
      .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
      .filter(col("l_quantity") < 24.0)
      .agg(count(lit(1)),
        sum(round(col("l_extendedprice") * 100).cast("long") *
          round(col("l_discount") * 100).cast("long")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(got == want && got._1 > 0)
  }

  test("q_sql_q7: two nation copies stay equi-joins; the cross-copy OR is a post-join filter, no cartesian") {
    val df = SparkEntry.queries("q_sql_q7")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Cartesian") && !opt.contains("BroadcastNestedLoop"),
      s"nation-pair OR defeated the equi-join plan:\n$opt")
    // five equi joins (supplier, orders, customer, nation x2) — the two
    // nation copies must NOT have been collapsed or cross-joined
    assert("Join Inner".r.findAllIn(opt).size == 5, s"expected 5 inner joins:\n$opt")
    // both directions of the region pair carry rows (the OR is live)
    val dirs = df.collect().map(_.getString(0).split("_")(1).toInt % 5).toSet
    assert(dirs == Set(1, 2), s"one OR branch empty: $dirs")
  }

  test("q_sql_q8: one-pass CASE-sum share; the date band sits below the join tree") {
    val df = SparkEntry.queries("q_sql_q8")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Cartesian") && !opt.contains("BroadcastNestedLoop"),
      s"non-equi shape in:\n$opt")
    // numerator and denominator come from ONE aggregate (no self-join
    // of the snowflake, no second scan for the share)
    assert("Aggregate".r.findAllIn(opt).size == 1, s"expected one Aggregate:\n$opt")
    // the order-date band is below the topmost join in tree print
    // order — i.e. pushed toward the orders scan, not post-join
    val joinIdx = opt.indexOf("Join Inner")
    assert(joinIdx >= 0 && opt.indexOf("o_orderdate", joinIdx) > joinIdx,
      s"date band not below the join tree:\n$opt")
    // shares are sane e4 fractions and nation_e4 <= total_e4
    val rows = df.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.forall { case (n, t, s) =>
      n >= 0 && n <= t && s >= 0 && s <= 10000 })
  }

  test("q_sql_q9: the part LIKE probe is pushed below the joins; profit arithmetic is exact") {
    val df = SparkEntry.queries("q_sql_q9")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    val joinIdx = opt.indexOf("Join Inner")
    // Contains(p_name, ring) appears below the join tree (tree print
    // order), i.e. it filters the part dim before any fact join
    val likeIdx = opt.indexOf("Contains(p_name")
    assert(joinIdx >= 0 && likeIdx > joinIdx,
      s"part LIKE not pushed below the joins:\n$opt")
    // and it reaches the part SCAN as a pushed StringContains
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("StringContains(p_name,ring)") ||
      phys.contains("StringContains(p_name, ring)"),
      s"LIKE not in PushedFilters:\n${phys.take(4000)}")
    // profit really is rev - cost: recheck one group against raw tables
    val got = df.collect().map(r =>
      ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    val want = Tables(spark, sfDir, "lineitem")
      .join(Tables(spark, sfDir, "part").filter(col("p_name").contains("ring")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables(spark, sfDir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, sfDir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")) -
          round(col("p_retailprice") * 100).cast("long") *
            round(col("l_quantity") * 100).cast("long")).as("p"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want && got.nonEmpty)
  }

  test("q_sql_q10: top-k plans TakeOrderedAndProject, both fact filters pushed") {
    val df = SparkEntry.queries("q_sql_q10")(spark, sfDir)
    val phys = df.queryExecution.executedPlan.toString
    // a LIMIT 20 under a total ORDER BY must be per-partition heaps +
    // driver merge — never a global sort of the per-customer frame
    assert(phys.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n${phys.take(3000)}")
    // returnflag prunes lineitem at its scan; the quarter band prunes
    // orders at its scan
    assert(phys.contains("EqualTo(l_returnflag,R)"),
      s"returnflag not pushed:\n${phys.take(4000)}")
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(phys).isDefined,
      s"quarter band not pushed to orders:\n${phys.take(4000)}")
    assert(df.collect().length == 20)
  }

  test("q_sql_q12: conditional agg in one pass, one join, ship-year band pushed") {
    val df = SparkEntry.queries("q_sql_q12")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert("Join Inner".r.findAllIn(opt).size == 1, s"expected one join:\n$opt")
    assert("Aggregate".r.findAllIn(opt).size == 1, s"expected one Aggregate:\n$opt")
    val joinIdx = opt.indexOf("Join Inner")
    assert(opt.indexOf("l_shipdate", joinIdx) > joinIdx,
      s"ship-year band not below the join:\n$opt")
    // high + low partition the joined rows exactly
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val joined = Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
      .join(Tables(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
    assert(rows.map(r => r._2 + r._3).sum == joined.count())
  }

  test("q_sql_q14: single-row CASE-sum ratio; the month band prunes lineitem at the scan") {
    val df = SparkEntry.queries("q_sql_q14")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert("Aggregate".r.findAllIn(opt).size == 1, s"expected one Aggregate:\n$opt")
    val phys = df.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(phys).isDefined,
      s"month band not pushed to the lineitem scan:\n${phys.take(4000)}")
    val Array(row) = df.collect()
    val (promo, total, share) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(promo > 0 && promo < total, s"degenerate promo split: $promo/$total")
    // the DECIMAL DIV really floors: share == promo*10000 / total in
    // exact Long arithmetic (in-range at this SF)
    assert(share == promo * 10000L / total, s"share $share != ${promo * 10000L / total}")
  }

  test("graft_normalize_text / graft_bpe_apply in SQL match the API (r12)") {
    val docs = Seq("Hello, World! v1.2", "a b a b", "Version 15  beta")
    docs.map(Tuple1(_)).toDF("text").createOrReplaceTempView("n_sql")
    val sql = spark.sql(
      """SELECT graft_normalize_text(text),
        |  graft_bpe_apply(split(text, ' '), 'a', 'b')
        |FROM n_sql""".stripMargin)
      .as[(String, Seq[String])].collect().toSeq
    val api = docs.map(Tuple1(_)).toDF("text")
      .select(graft.functions.NormalizeText.normalizeText(col("text")),
        graft.functions.BpeApply.bpeApply(split(col("text"), " "), "a", "b"))
      .as[(String, Seq[String])].collect().toSeq
    assert(sql == api)
    assert(sql(0)._1 == "hello world v0")
    assert(sql(1)._2 == Seq("ab", "ab"))
    // static args must be literals — the same contract as shingle width
    intercept[Exception] {
      spark.sql("SELECT graft_bpe_apply(split(text,' '), text, 'b') FROM n_sql")
        .collect()
    }
  }

  test("graft_unigram_viterbi in SQL matches the API (r14)") {
    val rows = Seq(("abab", Seq("a", "b", "ab"), Seq(-5L, -5L, -3L)),
      ("aaa", Seq("a", "aa", "aaa"), Seq(-2L, -3L, -9L)))
    rows.toDF("w", "ps", "ss").createOrReplaceTempView("uv_sql")
    val sql = spark.sql(
      "SELECT graft_unigram_viterbi(w, ps, ss) FROM uv_sql")
      .as[Seq[String]].collect().toSeq
    val api = rows.toDF("w", "ps", "ss")
      .select(graft.functions.UnigramViterbi
        .unigramViterbi(col("w"), col("ps"), col("ss")))
      .as[Seq[String]].collect().toSeq
    assert(sql == api)
    assert(sql(0) == Seq("ab", "ab"))
    // dp[2] = -3 (aa); dp[3]: k=1 gives -5, k=2 (dp[1]+aa) also -5 —
    // the smallest-k tie rule keeps k=1 -> backtrace ["aa","a"]
    assert(sql(1) == Seq("aa", "a"))
  }

  test("graft_wp_merge / graft_wp_match in SQL match the API (r14)") {
    val rows = Seq(("abc", Seq("a", "ab", "##b", "##c")),
      ("abc", Seq("a", "##b")))
    rows.toDF("w", "ps").createOrReplaceTempView("wp_sql")
    val sql = spark.sql(
      """SELECT graft_wp_match(w, ps),
        |  graft_wp_merge(ps, 'a', '##b', 'ab')
        |FROM wp_sql""".stripMargin)
      .as[(Seq[String], Seq[String])].collect().toSeq
    val api = rows.toDF("w", "ps")
      .select(graft.functions.WordPieceOps.wpMatch(col("w"), col("ps")),
        graft.functions.WordPieceOps.wpMerge(col("ps"), "a", "##b", "ab"))
      .as[(Seq[String], Seq[String])].collect().toSeq
    assert(sql == api)
    assert(sql(0)._1 == Seq("ab", "##c"))
    assert(sql(1)._1 == Seq("[UNK]")) // no ##-piece covers position 3
    assert(sql(1)._2 == Seq("ab"))
    // static merge args must be string literals
    intercept[Exception] {
      spark.sql("SELECT graft_wp_merge(ps, w, '##b', 'ab') FROM wp_sql")
        .collect()
    }
  }

  test("wpMatchVocab ≡ wpMatch for every word when the vocab is passed " +
      "whole (r18 encode-plan optimization)") {
    import graft.functions.WordPieceOps.{wpMatch, wpMatchVocab}
    val vocab = Seq("a", "ab", "abc", "x", "##b", "##c", "##bc", "zz")
    // covers: multi-piece walks, longest-match preference, whole-word
    // [UNK] (no piece at a position), single chars, the EMPTY word
    // (0-piece segmentation, not [UNK]), and words longer than maxK
    val words = Seq("abc", "abcbc", "ab", "a", "q", "xb", "", "abcbcbcbcbc",
      "zza", "axx")
    import spark.implicits._
    val viaVocab = words.toDF("w")
      .select(col("w"), wpMatchVocab(col("w"), vocab).as("seg"))
      .as[(String, Seq[String])].collect().toMap
    // reference: the per-row candidate-array kernel, given the same
    // pieces (the r17 plan fed it the vocab ∩ substrings-of-w subset;
    // passing the whole vocab is equivalent by the set-probe argument)
    val viaArray = words.toDF("w")
      .withColumn("ps", typedLit(vocab))
      .select(col("w"), wpMatch(col("w"), col("ps")).as("seg"))
      .as[(String, Seq[String])].collect().toMap
    assert(viaVocab == viaArray)
    assert(viaVocab("abc") == Seq("abc"))
    assert(viaVocab("abcbc") == Seq("abc", "##bc"))
    assert(viaVocab("q") == Seq("[UNK]"))
    assert(viaVocab("") == Seq.empty)
    assert(viaVocab("axx") == Seq("[UNK]")) // x bare-only: no ##x piece
  }

  test("Md5Ops: prefix/ws/shingle u64s are bit-identical to the " +
      "conv(substring(md5)) chains they replace (r15)") {
    import spark.implicits._
    import graft.functions.{Md5Ops, Shingles}
    val strs = Seq("", "a", "hello world", "ünïcode ☃ text",
      "x" * 300, "a b", " leading", "trailing ")
    // md5Prefix(c, n) == conv(substring(md5(c), 1, n), 16, 10) for
    // every n in 1..15
    val df = strs.toDF("s")
    for (n <- Seq(1, 8, 15)) {
      val got = df.select(Md5Ops.md5Prefix(col("s"), n)).as[Long].collect().toSeq
      val want = df.select(
        conv(substring(md5(col("s")), 1, n), 16, 10).cast("long"))
        .as[Long].collect().toSeq
      assert(got == want, s"md5Prefix($n) drifted")
    }
    // md5WsPrefix(arr, 15) == md5Prefix(concat_ws(' ', arr), 15),
    // including empty arrays, empty tokens, and null elements
    val arrs: Seq[Seq[String]] = Seq(
      Seq("a", "b", "c"), Seq(""), Seq("", ""), Seq("x"),
      Seq.empty[String], Seq("multi word", "z"))
    val adf = arrs.toDF("a")
    val gotWs = adf.select(Md5Ops.md5WsPrefix(col("a"), 15)).as[Long].collect().toSeq
    val wantWs = adf.select(
      conv(substring(md5(concat_ws(" ", col("a"))), 1, 15), 16, 10)
        .cast("long")).as[Long].collect().toSeq
    assert(gotWs == wantWs)
    val nullDf = Seq(Tuple1(Seq[String]("a", null, "b"))).toDF("a")
    assert(nullDf.select(Md5Ops.md5WsPrefix(col("a"), 15)).as[Long].head() ==
      nullDf.select(conv(substring(md5(concat_ws(" ", col("a"))), 1, 15),
        16, 10).cast("long")).as[Long].head())
    // shingleMd5U64s == Shingles + per-element md5 chain, both flavors
    val toksDf = Seq("a b c d e f", "a a a a", "x y", "single", "")
      .toDF("t").select(split(col("t"), " ").as("ts"))
    for (dist <- Seq(false, true)) {
      val got = toksDf.select(
        transform(Md5Ops.shingleMd5U64s(col("ts"), 3, dist),
          u => shiftrightunsigned(u, 4))).as[Seq[Long]].collect().toSeq
      val base =
        if (dist) Shingles.shingles(col("ts"), 3) else Shingles.shinglesAll(col("ts"), 3)
      val want = toksDf.select(
        transform(base,
          x => conv(substring(md5(x), 1, 15), 16, 10).cast("long")))
        .as[Seq[Long]].collect().toSeq
      assert(got == want, s"shingleMd5U64s(distinct=$dist) drifted")
    }
    // SQL registration parity: the registered functions return the raw
    // u64s the Column API derives its prefixes from
    Seq(("a b c d", Seq("p", "q"))).toDF("s", "a").createOrReplaceTempView("m5")
    val sqlRow = spark.sql(
      "SELECT graft_md5_u64(s), graft_md5_ws_u64(a), " +
        "graft_shingle_md5_u64(split(s, ' '), 2) FROM m5")
      .as[(Long, Long, Seq[Long])].head()
    val apiRow = Seq(("a b c d", Seq("p", "q"))).toDF("s", "a")
      .select(Md5Ops.md5U64(col("s")),
        Md5Ops.md5WsPrefix(col("a"), 15),
        Md5Ops.shingleMd5U64s(split(col("s"), " "), 2))
      .as[(Long, Long, Seq[Long])].head()
    assert(sqlRow._1 == apiRow._1 && sqlRow._3 == apiRow._3)
    assert((sqlRow._2 >>> 4) == apiRow._2)
  }

  private implicit class ToMap2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }
}
