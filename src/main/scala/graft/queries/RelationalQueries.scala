package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Batch 2 of the SURVEY.md §2 Part B surface: joins, rollup, set
  * operations, scalar string/date/math functions (the relational layer the
  * reference's own pom declares via spark-sql/hive but never implemented —
  * `icebergIngest/pom.xml:40-54,78-104`).
  *
  * Scale notes (100 TB design, verified via .explain on sf0.1):
  *  - dimension joins (nation, customer at low SF) broadcast — no shuffle
  *    of the fact side; fact-fact joins shuffle on the join key only after
  *    column pruning (ReadSchema shows only referenced columns);
  *  - every aggregate over money is computed in exact integer e2/e4 units
  *    (prices/discounts are 2-decimal by construction) so results are
  *    independent of partial-aggregation order — the float-sum
  *    nondeterminism that would otherwise break hash-compare at any
  *    parallelism, and silently drift at cluster scale, is structurally
  *    gone;
  *  - map-side partial aggregation halves shuffle volume for every
  *    groupBy here (HashAggregate partial → shuffle → final).
  */
object RelationalQueries {

  /** Exact e2 integer units of a 2-decimal double column; NaN/±Inf →
    * NULL via try_cast (the DuckDB TRY_CAST semantic — r17 nasty sweep).
    */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).try_cast("long")

  val entries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // q_join_inner — 3-way equi join lineitem ⋈ orders ⋈ customer with
    // aggregation. Plan: lineitem⋈orders shuffles on orderkey; customer
    // side broadcasts at this SF (AQE decides); revenue is exact e4 ints.
    QueryDef(
      "q_join_inner",
      (s: SparkSession, dir: String) => {
        val l = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"), col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n"),
            sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
              .as("revenue_e4"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .orderBy("c_mktsegment", "o_orderpriority")
      },
      Some("""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
             |           * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS BIGINT) AS revenue_e4,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // q_join_broadcast — explicit broadcast of the nation dimension into
    // customer: BroadcastHashJoin, zero shuffle of the probe side. The
    // pattern that must hold at 1000 executors: dims ship to tasks, facts
    // never move.
    QueryDef(
      "q_join_broadcast",
      (s: SparkSession, dir: String) => {
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_cust"),
            sum(cents(col("c_acctbal"))).as("sum_acctbal_e2"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, COUNT(*) AS n_cust,
             |  CAST(SUM(CAST(ROUND(c_acctbal*100,0) AS BIGINT)) AS BIGINT) AS sum_acctbal_e2
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q_join_semi_anti — left-semi (customers WITH orders) and left-anti
    // (customers WITHOUT), tagged and unioned. Both plan as a single
    // broadcast/shuffled semi join — no row multiplication, unlike an
    // IN-subquery rewrite through a full join.
    QueryDef(
      "q_join_semi_anti",
      (s: SparkSession, dir: String) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders").select("o_custkey")
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "leftsemi")
          .select(col("c_custkey"), lit("with_orders").as("tag"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "leftanti")
          .select(col("c_custkey"), lit("no_orders").as("tag"))
        semi.unionAll(anti).orderBy("tag", "c_custkey")
      },
      Some("""SELECT c_custkey, 'with_orders' AS tag FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |UNION ALL
             |SELECT c_custkey, 'no_orders' AS tag FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY tag, c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q_rollup — grouping sets (TPC-H Q1 shape): rollup over
    // (returnflag, linestatus). Subtotal rows surface as NULL keys →
    // COALESCE'd to a sentinel so both engines order identically.
    QueryDef(
      "q_rollup",
      (s: SparkSession, dir: String) =>
        Tables(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_price_e2"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("n"), col("sum_qty"), col("sum_price_e2"))
          .orderBy("returnflag", "linestatus"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             |  COALESCE(l_linestatus, 'ALL') AS linestatus,
             |  COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_e2
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |HAVING COUNT(*) > 0
             |ORDER BY returnflag, linestatus""".stripMargin)),
             // HAVING COUNT(*)>0: on an EMPTY table the SQL standard's
             // () grouping set emits a 0-count grand-total row (DuckDB
             // does) while Spark's rollup emits nothing — bless Spark's
             // shape; a no-op on any non-empty input (r17 sweep)

    // ------------------------------------------------------------------
    // q_grouping_sets ★ (new r5) — ARBITRARY grouping sets, the general
    // form cube/rollup specialize: ((status, priority), (status), ())
    // but NOT (priority) — exactly the subtotal combinations asked for,
    // nothing more (a cube here would compute and shuffle a 4th
    // grouping for no caller). One Expand (3 replicas/row) + one hash
    // agg, same single-pass plan as q_rollup; grouping_id()
    // disambiguates real NULL keys from subtotal NULLs — the sentinel
    // COALESCE alone can't distinguish a genuine 'ALL' value.
    QueryDef(
      "q_grouping_sets",
      (s: SparkSession, dir: String) =>
        Tables(s, dir, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderstatus")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("o_totalprice"))).as("sum_price_e2"),
            grouping_id().as("gid"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("gid"), col("n"), col("sum_price_e2"))
          .orderBy("gid", "status", "priority"),
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             |  COALESCE(o_orderpriority, 'ALL') AS priority,
             |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
             |    AS sum_price_e2
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
             |  (o_orderstatus), ())
             |HAVING COUNT(*) > 0
             |ORDER BY gid, status, priority""".stripMargin)),
             // HAVING COUNT(*)>0: the q_rollup empty-table rule

    // ------------------------------------------------------------------
    // q_set_ops — UNION (distinct) / INTERSECT / EXCEPT over key
    // projections, tagged. Spark plans these as aggregates/joins on the
    // key — a single shuffle each.
    QueryDef(
      "q_set_ops",
      (s: SparkSession, dir: String) => {
        val cust = Tables(s, dir, "customer").select(col("c_custkey").as("k"))
        val ordc = Tables(s, dir, "orders").select(col("o_custkey").as("k"))
        val sup  = Tables(s, dir, "supplier").select(col("s_suppkey").as("k"))
        val u = cust.union(sup).distinct().withColumn("tag", lit("union"))
        val i = cust.intersect(ordc).withColumn("tag", lit("intersect"))
        val e = cust.except(ordc).withColumn("tag", lit("except"))
        u.unionAll(i).unionAll(e).orderBy("tag", "k")
      },
      Some("""WITH cust AS (SELECT c_custkey AS k FROM customer),
             |     ordc AS (SELECT o_custkey AS k FROM orders),
             |     sup  AS (SELECT s_suppkey AS k FROM supplier)
             |SELECT k, 'union' AS tag FROM (SELECT k FROM cust UNION SELECT k FROM sup)
             |UNION ALL
             |SELECT k, 'intersect' AS tag FROM (SELECT k FROM cust INTERSECT SELECT k FROM ordc)
             |UNION ALL
             |SELECT k, 'except' AS tag FROM (SELECT k FROM cust EXCEPT SELECT k FROM ordc)
             |ORDER BY tag, k""".stripMargin)),

    // ------------------------------------------------------------------
    // q_string_date_math — scalar function matrix in one projection:
    // string (upper/substr/concat/length), date (year/month/date_trunc),
    // math (abs/floor/exact round). All codegen'd, all pushed inside one
    // WholeStageCodegen span; no rounding of derived doubles (identical
    // IEEE ops on identical inputs are bit-equal across engines).
    QueryDef(
      "q_string_date_math",
      (s: SparkSession, dir: String) =>
        Tables(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            upper(col("l_returnflag")).as("flag_u"),
            concat(col("l_returnflag"), lit("_"), col("l_linestatus")).as("flag_status"),
            substring(col("l_shipdate").cast("string"), 1, 7).as("ship_month_s"),
            length(col("l_returnflag")).as("flag_len"),
            year(col("l_shipdate")).as("ship_year"),
            month(col("l_shipdate")).as("ship_month"),
            date_trunc("month", col("l_shipdate")).as("ship_month_ts"),
            abs(col("l_discount") - lit(0.05)).as("disc_dev"),
            floor(col("l_quantity") / 10).cast("long").as("qty_decile"),
            (cents(col("l_extendedprice")) * (lit(100L) + cents(col("l_tax"))))
              .as("taxed_e4"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  UPPER(l_returnflag) AS flag_u,
             |  l_returnflag || '_' || l_linestatus AS flag_status,
             |  SUBSTR(CAST(CAST(l_shipdate AS TIMESTAMP) AS VARCHAR), 1, 7) AS ship_month_s,
             |  CAST(LENGTH(l_returnflag) AS INTEGER) AS flag_len,
             |  CAST(YEAR(l_shipdate) AS INTEGER) AS ship_year,
             |  CAST(MONTH(l_shipdate) AS INTEGER) AS ship_month,
             |  CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS ship_month_ts,
             |  ABS(l_discount - 0.05) AS disc_dev,
             |  CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_decile,
             |  CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
             |    * (100 + CAST(ROUND(l_tax*100,0) AS BIGINT)) AS taxed_e4
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ------------------------------------------------------------------
    // q_pivot — long→wide reshaping: events per day pivoted into one
    // count column per event type. The value list is EXPLICIT
    // (`pivot(col, values)`) — the form that scales: without it Spark
    // runs a separate distinct scan to discover the columns, and an
    // unbounded value set would make the schema data-dependent. Plan
    // is a single hash agg over (day) with 5 conditional counts —
    // identical to the oracle's COUNT(*) FILTER columns; nulls for
    // absent combinations are filled to 0 on both sides.
    QueryDef(
      "q_pivot",
      (s: SparkSession, dir: String) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        Tables(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("event_type"))
          .groupBy("day")
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .na.fill(0L, types)
          .orderBy("day")
      },
      Some("""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |  COUNT(*) FILTER (event_type = 'click') AS click,
             |  COUNT(*) FILTER (event_type = 'error') AS error,
             |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
             |  COUNT(*) FILTER (event_type = 'signup') AS signup,
             |  COUNT(*) FILTER (event_type = 'view') AS view
             |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),

    // ------------------------------------------------------------------
    // q_join_star — the TPC-H Q5 shape: a 6-table star join (lineitem ⋈
    // orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with the "local
    // supplier" condition c_nationkey = s_nationkey, a year filter on
    // orders, and a region filter — revenue per nation. The join-order/
    // broadcast showcase: region + nation are explicitly broadcast
    // (guaranteed tiny at any scale: 5 / 25 rows), the big fact joins
    // (lineitem–orders, orders–customer) shuffle on their keys, and
    // supplier is left to AQE (broadcast-able at this SF; a shuffle
    // join at 100 TB where supplier is SF×10k rows). Both filters reach
    // the scans (PushedFilters / partition-prunable at rest). Revenue
    // in exact integer e4 cents (extprice_c × (100 − disc_pct)) so the
    // cross-engine sum commutes and the oracle hash-matches.
    QueryDef(
      "q_join_star",
      (s: SparkSession, dir: String) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1996)
        val c = Tables(s, dir, "customer")
        val su = Tables(s, dir, "supplier")
        val n = Tables(s, dir, "nation")
        val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(sum(cents(col("l_extendedprice")) *
              (lit(100L) - cents(col("l_discount")))).as("revenue_e4"),
            count(lit(1)).as("n_items"))
          .orderBy(col("revenue_e4").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
             |    * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS BIGINT)
             |    AS revenue_e4,
             |  COUNT(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE YEAR(o_orderdate) = 1996 AND r_name = 'ASIA'
             |GROUP BY n_name ORDER BY revenue_e4 DESC, n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q_join_salted ★ (new r5) — the EXPLICIT skew-salting join
    // pattern, declared as a query so the technique itself is
    // oracle-checked: events (the fact side, where one hot key can dwarf
    // every other task at 100 TB) join customer on user_id with the key
    // space widened by a deterministic salt (`ScaleOps.saltedJoin` —
    // the single shipped salting implementation as of r6) — fact rows get
    // salt = event_id mod S, the dim side is replicated S× via a
    // generated salt column, and the join runs on (key, salt), slicing
    // any hot key into S independently-placed shuffle partitions. The
    // result is EXACTLY the unsalted join (each fact row matches
    // exactly one replica), which is what the DuckDB oracle runs — the
    // pattern's whole point is changing the partitioning without
    // changing the answer. AQE's skew-join split covers the common
    // case at runtime; explicit salting is the plan-level tool for the
    // known-hot-key regime (AQE only splits ABOVE a size threshold and
    // cannot split a single in-flight hash-build). Salt is derived from
    // event_id, not rand(): deterministic → retry-safe and
    // engine-reproducible, the same property hash-sampling has.
    // S = 8 multiplies the dim side's shuffle volume 8× — the dim is
    // the small side by construction, so that cost is bounded.
    QueryDef(
      "q_join_salted",
      (s: SparkSession, dir: String) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), cents(col("value")).as("cents"),
            col("event_id"))
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        graft.operators.ScaleOps
          .saltedJoin(ev, "user_id", col("event_id"), cust, "c_custkey", 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_events,
             |  CAST(SUM(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ------------------------------------------------------------------
    // bucketed_join_e2e (new r5) — the CO-LOCATED JOIN pattern declared
    // and SELF-CHECKING: both join sides are written as hash-bucketed,
    // per-bucket-sorted tables (`ScaleOps.writeBucketed` — ONE up-front
    // shuffle each), then joined exchange-free: Spark matches the two
    // tables' HashPartitioning, so the sort-merge join has ZERO
    // Exchange nodes and no Sort either. This is the amortization play
    // for the 100 TB fact-fact join that runs every day — pay the
    // shuffle once at ingest, never at query time. The query REQUIRES
    // the exchange-free property of its own plan (broadcast disabled
    // during the check so the assertion is about bucketing, not about
    // AQE broadcasting a tiny side at test SF) — a planner regression
    // fails the CORRECTNESS row, not just a spec. The oracle runs the
    // plain join: co-location must not change the answer.
    QueryDef(
      "bucketed_join_e2e",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        import graft.operators.ScaleOps
        val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
        val whPath = java.nio.file.Files.createTempDirectory("graft_bjoin_")
        val wh = whPath.toString
        // Eager protocol: run the whole scenario, COLLECT the tiny
        // aggregate (≤ #order-statuses rows), then drop the tables and
        // delete the bucketed copies before returning an in-memory
        // frame — repeated Bench/Time/Verify runs must not accumulate
        // catalog entries or fill /tmp with data-sized table copies.
        try {
          ScaleOps.writeBucketed(
            Tables(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
            s"bj_li_$tag", s"$wh/li", "l_orderkey", buckets = 8)
          ScaleOps.writeBucketed(
            Tables(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
            s"bj_o_$tag", s"$wh/o", "o_orderkey", buckets = 8)
          val joined = s.table(s"bj_li_$tag")
            .join(s.table(s"bj_o_$tag"), col("l_orderkey") === col("o_orderkey"))
          val prevBT = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          try {
            val plan = joined.queryExecution.executedPlan.toString
            require(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
              s"bucketed join must be an exchange-free SMJ, got:\n$plan")
          } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBT)
          // Total order is produced ON-ENGINE (.orderBy); the collect that
          // follows only materializes the ≤|order-status| rows so the
          // bucketed tables can be dropped before returning (eager
          // protocol above) — it preserves the engine's order.
          joined
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n_items"),
              sum(cents(col("l_quantity"))).as("sum_qty_c"))
            .orderBy("o_orderstatus")
            .as[(String, Long, Long)].collect().toSeq
            .toDF("o_orderstatus", "n_items", "sum_qty_c")
        } finally {
          s.sql(s"DROP TABLE IF EXISTS bj_li_$tag")
          s.sql(s"DROP TABLE IF EXISTS bj_o_$tag")
          LocalFs.deleteTree(whPath)
        }
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q3 ★ (new r5) — TPC-H Q3 (shipping-priority) THROUGH THE
    // SQL FRONT-END: the one declared row built with `spark.sql` over
    // registered views rather than the DataFrame API, so the parser →
    // analyzer → optimizer path a SQL-first user takes is itself under
    // the oracle (every other row proves the DataFrame path; Catalyst
    // compiles both to the same plans — this row proves that claim on
    // a 3-table join + agg + top-k). Adapted to this fixture's schema
    // (o_orderpriority for the absent o_shippriority; revenue in exact
    // e4 ints per the q_join_inner discipline). Plan: both dims
    // broadcast at this SF, one shuffle on the group key,
    // TakeOrderedAndProject for the top-10.
    QueryDef(
      "q_sql_q3",
      (s: SparkSession, dir: String) => {
        Seq("customer", "orders", "lineitem").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT l_orderkey, o_orderdate, o_orderpriority,
            SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS revenue_e4,
            COUNT(*) AS n_items
          FROM graft_customer
          JOIN graft_orders   ON c_custkey = o_custkey
          JOIN graft_lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
            AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
          GROUP BY l_orderkey, o_orderdate, o_orderpriority
          ORDER BY revenue_e4 DESC, l_orderkey
          LIMIT 10""")
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
             |    * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS BIGINT)
             |    AS revenue_e4,
             |  COUNT(*) AS n_items
             |FROM customer
             |JOIN orders   ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
             |  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue_e4 DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q5 ★ (new r5) — TPC-H Q5 (local-supplier volume) through
    // the SQL front-end: the 6-table snowflake join — lineitem ⋈
    // orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region — with the
    // classic Q5 twist that customer and supplier must share a nation
    // (c_nationkey = s_nationkey rides on the supplier join, turning
    // two independent dims into a correlated pair). Exercises what Q3
    // can't: join ORDER matters here (region/nation prune supplier
    // before the fact join; Catalyst's reorder + broadcast of all four
    // sub-million-row dims keeps lineitem unshuffled until the final
    // group-by), and the date filter pushes to the orders scan.
    // Revenue in exact e4 ints per the house discipline.
    QueryDef(
      "q_sql_q5",
      (s: SparkSession, dir: String) => {
        Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT n_name,
            SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS revenue_e4,
            COUNT(*) AS n_items
          FROM graft_customer
          JOIN graft_orders   ON c_custkey = o_custkey
          JOIN graft_lineitem ON l_orderkey = o_orderkey
          JOIN graft_supplier ON l_suppkey = s_suppkey
                             AND c_nationkey = s_nationkey
          JOIN graft_nation   ON s_nationkey = n_nationkey
          JOIN graft_region   ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY n_name
          ORDER BY revenue_e4 DESC, n_name""")
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
             |    * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS BIGINT)
             |    AS revenue_e4,
             |  COUNT(*) AS n_items
             |FROM customer
             |JOIN orders   ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation   ON s_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name
             |ORDER BY revenue_e4 DESC, n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q1 ★ (new r6) — TPC-H Q1 (pricing summary) through the SQL
    // front-end: THE canonical scan→filter→wide-agg shape (8 aggregates
    // over 2 group keys, ~54% selectivity filter pushed to the parquet
    // scan). All money/qty math in exact integer units (e2 sums, e4
    // disc price, e6 charge — the three-factor product is where TPC-H
    // implementations usually go float; here it stays BIGINT, so the
    // result is partial-agg-order-independent at any parallelism).
    // Averages use the round-half-up integer identity
    // (2·sum + n) div (2·n) — no float division in either engine.
    // Sums stay in-range while rows·(1e7·100·200) < 2^63, i.e. to
    // ~sf10; beyond that lift to DECIMAL(38,0) as q_profile_stats does.
    // Plan: one codegen'd partial agg before the 6-group shuffle —
    // map-side combine does ~all the work, the exchange moves 6 rows
    // per task. This is the 100 TB shape for Q1.
    QueryDef(
      "q_sql_q1",
      (s: SparkSession, dir: String) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
        s.sql("""
          SELECT l_returnflag, l_linestatus,
            SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS sum_qty_c,
            SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS sum_base_c,
            SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS sum_disc_e4,
            SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))
              * (100 + CAST(ROUND(l_tax*100, 0) AS BIGINT))) AS sum_charge_e6,
            (2*SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) + COUNT(*))
              DIV (2*COUNT(*)) AS avg_qty_c,
            (2*SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) + COUNT(*))
              DIV (2*COUNT(*)) AS avg_price_c,
            (2*SUM(CAST(ROUND(l_discount*100, 0) AS BIGINT)) + COUNT(*))
              DIV (2*COUNT(*)) AS avg_disc_c,
            COUNT(*) AS count_order
          FROM graft_lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS BIGINT)
             |    AS sum_qty_c,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT)
             |    AS sum_base_c,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
             |    * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS BIGINT)
             |    AS sum_disc_e4,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
             |    * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))
             |    * (100 + CAST(ROUND(l_tax*100, 0) AS BIGINT))) AS BIGINT)
             |    AS sum_charge_e6,
             |  CAST((2*SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) + COUNT(*))
             |    // (2*COUNT(*)) AS BIGINT) AS avg_qty_c,
             |  CAST((2*SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) + COUNT(*))
             |    // (2*COUNT(*)) AS BIGINT) AS avg_price_c,
             |  CAST((2*SUM(CAST(ROUND(l_discount*100, 0) AS BIGINT)) + COUNT(*))
             |    // (2*COUNT(*)) AS BIGINT) AS avg_disc_c,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q4 ★ (new r6) — TPC-H Q4 (order-priority checking) through
    // the SQL front-end: the correlated-EXISTS shape. The optimizer
    // path none of the other queries exercise — Catalyst's
    // RewriteCorrelatedScalarSubquery/RewritePredicateSubquery must
    // DECORRELATE the per-order existence probe into a LEFT SEMI join
    // on l_orderkey (verified in the plan: no per-row subquery
    // execution exists in Spark at all, so a miss here would be a
    // planner error, not a slowdown). Fixture has no
    // l_commitdate/l_receiptdate; the inner predicate is returnflag-
    // based, which preserves the decorrelation shape (correlated
    // equality + uncorrelated filter). Semi-join means lineitem
    // contributes each matching order ONCE — no fan-out, no distinct.
    QueryDef(
      "q_sql_q4",
      (s: SparkSession, dir: String) => {
        Tables(s, dir, "orders").createOrReplaceTempView("graft_orders")
        Tables(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
        s.sql("""
          SELECT o_orderpriority, COUNT(*) AS order_count
          FROM graft_orders
          WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
            AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
            AND EXISTS (SELECT 1 FROM graft_lineitem
                        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
             |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q17 ★ (new r6) — TPC-H Q17 (small-quantity-order revenue)
    // through the SQL front-end: the correlated SCALAR-subquery shape.
    // Q17's threshold is 0.2·avg(l_quantity) per part; avg is a float
    // division, so the predicate is algebraically cleared to exact
    // integers — qty_c·5·count < sum_qty_c ⟺ qty < sum/(5·n) — which
    // costs a SECOND correlated scalar subquery and in return makes
    // the row set engine-exact (no float boundary anywhere). Catalyst
    // decorrelates each scalar agg into a per-partkey aggregate joined
    // back on the correlation key (RewriteCorrelatedScalarSubquery);
    // at 100 TB that is one lineitem re-aggregation by partkey — the
    // same cost the textbook Q17 pays — not a per-row loop. Grouped by
    // brand over all brands (fixture has no p_container).
    QueryDef(
      "q_sql_q17",
      (s: SparkSession, dir: String) => {
        Tables(s, dir, "part").createOrReplaceTempView("graft_part")
        Tables(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
        s.sql("""
          SELECT pt.p_brand, COUNT(*) AS n_small,
            SUM(CAST(ROUND(li.l_extendedprice*100, 0) AS BIGINT)) AS sum_price_c
          FROM graft_lineitem li JOIN graft_part pt
            ON pt.p_partkey = li.l_partkey
          WHERE CAST(ROUND(li.l_quantity*100, 0) AS BIGINT) * 5 *
                (SELECT COUNT(*) FROM graft_lineitem l2
                 WHERE l2.l_partkey = pt.p_partkey)
              < (SELECT SUM(CAST(ROUND(l2.l_quantity*100, 0) AS BIGINT))
                 FROM graft_lineitem l2
                 WHERE l2.l_partkey = pt.p_partkey)
          GROUP BY pt.p_brand
          ORDER BY pt.p_brand""")
      },
      Some("""SELECT pt.p_brand, COUNT(*) AS n_small,
             |  CAST(SUM(CAST(ROUND(li.l_extendedprice*100, 0) AS BIGINT)) AS BIGINT)
             |    AS sum_price_c
             |FROM lineitem li JOIN part pt ON pt.p_partkey = li.l_partkey
             |WHERE CAST(ROUND(li.l_quantity*100, 0) AS BIGINT) * 5 *
             |      (SELECT COUNT(*) FROM lineitem l2
             |       WHERE l2.l_partkey = pt.p_partkey)
             |    < (SELECT CAST(SUM(CAST(ROUND(l2.l_quantity*100, 0) AS BIGINT))
             |         AS BIGINT)
             |       FROM lineitem l2 WHERE l2.l_partkey = pt.p_partkey)
             |GROUP BY pt.p_brand
             |ORDER BY pt.p_brand""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q21 ★ (new r7) — TPC-H Q21 (suppliers who kept orders
    // waiting) through the SQL front-end: the decorrelation STRESS
    // shape — a correlated EXISTS and a correlated NOT EXISTS against
    // the SAME fact table the outer block scans, both correlated on
    // l_orderkey with a non-equi self-exclusion (l_suppkey <>) inside.
    // This is the rewrite that breaks naive decorrelators: the EXISTS
    // must become a LEFT SEMI join and the NOT EXISTS a LEFT ANTI join
    // (null-safe under the <>), each on the orderkey equi-key, with NO
    // row fan-out — a decorrelation that materialized matches instead
    // of probing them would multiply l1 rows and silently corrupt
    // numwait. SqlFunctionsSpec pins the one-semi + one-anti plan.
    // Fixture adaptation per the q_sql_q4 note (no l_receiptdate /
    // l_commitdate): "this supplier was late" ≡ l_returnflag = 'R'.
    // At 100 TB: three lineitem scans (outer, semi, anti) all shuffle
    // on l_orderkey — co-partitioned back-to-back joins, no broadcast
    // of anything corpus-sized; dims (supplier⋈nation pruned to one
    // nation) broadcast. numwait is an exact COUNT(*); ORDER BY
    // numwait DESC, s_name is total (s_name unique per supplier).
    QueryDef(
      "q_sql_q21",
      (s: SparkSession, dir: String) => {
        Seq("supplier", "lineitem", "orders", "nation").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT s_name, COUNT(*) AS numwait
          FROM graft_supplier
          JOIN graft_lineitem l1 ON s_suppkey = l1.l_suppkey
          JOIN graft_orders   ON o_orderkey = l1.l_orderkey
          JOIN graft_nation   ON s_nationkey = n_nationkey
          WHERE o_orderstatus = 'F'
            AND l1.l_returnflag = 'R'
            AND EXISTS (SELECT 1 FROM graft_lineitem l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM graft_lineitem l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey
                              AND l3.l_returnflag = 'R')
            AND n_name = 'NATION_3'
          GROUP BY s_name
          ORDER BY numwait DESC, s_name
          LIMIT 100""")
      },
      Some("""SELECT s_name, COUNT(*) AS numwait
             |FROM supplier
             |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
             |JOIN orders   ON o_orderkey = l1.l_orderkey
             |JOIN nation   ON s_nationkey = n_nationkey
             |WHERE o_orderstatus = 'F'
             |  AND l1.l_returnflag = 'R'
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey
             |                    AND l3.l_returnflag = 'R')
             |  AND n_name = 'NATION_3'
             |GROUP BY s_name
             |ORDER BY numwait DESC, s_name
             |LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q20 ★ (new r8) — TPC-H Q20 (potential part promotion)
    // through the SQL front-end: the NESTED decorrelation shape — an IN
    // subquery whose inner block itself contains BOTH a second IN
    // subquery (part-name prefix) and a correlated scalar-agg subquery
    // (the availqty > 0.5·sum(shipped) threshold). Q21 covered sibling
    // EXISTS/NOT-EXISTS; this is the two decorrelations COMPOSED: the
    // scalar agg must become a per-key aggregate left-joined back
    // INSIDE a block that is itself collapsed into a semi join — the
    // rewrite naive planners botch into row multiplication. The 0.5
    // factor is cleared to exact integers (2·qty_c > sum_c); the SUM
    // over an empty correlated group is NULL and NULL-excludes per
    // TPC-H semantics (the classic decorrelation-NULL trap, exercised
    // deliberately: ~90% of groups are empty at every SF).
    // Fixture adaptation (per the q_sql_q4 note — no partsupp /
    // l_commitdate / s_address): the "stock offer" relation is
    // lineitem rows with l_returnflag='N' (availqty := l_quantity),
    // shipped demand is flag 'R' in the 1996 ship-year, correlated on
    // l_partkey alone — per-part lineitem density is SF-INVARIANT
    // (~30 rows) where per-(part,supp) density hollows out
    // quadratically, so the threshold stays discriminating at any
    // scale (measured: 3/4, 10/15, 145/201 suppliers qualify at
    // sf0.001/0.01/0.1). Nation filter by region ⇒ nonzero at sf0.001.
    // At 100 TB: the part prefix-filter is dim-sized → broadcast semi;
    // the demand re-aggregation shuffles lineitem once on l_partkey
    // and joins back on the same key; the outer IN is a semi join on
    // s_suppkey — every probe is an equi-join, nothing corpus-sized is
    // broadcast, no fan-out anywhere (SqlFunctionsSpec pins the plan).
    QueryDef(
      "q_sql_q20",
      (s: SparkSession, dir: String) => {
        Seq("supplier", "lineitem", "part", "nation").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT s_name
          FROM graft_supplier JOIN graft_nation ON s_nationkey = n_nationkey
          WHERE n_regionkey = 3
            AND s_suppkey IN (
              SELECT ps.l_suppkey FROM graft_lineitem ps
              WHERE ps.l_returnflag = 'N'
                AND ps.l_partkey IN (SELECT p_partkey FROM graft_part
                                     WHERE p_name LIKE 'cold ring%')
                AND CAST(ROUND(ps.l_quantity*100, 0) AS BIGINT) * 2 > (
                  SELECT SUM(CAST(ROUND(l.l_quantity*100, 0) AS BIGINT))
                  FROM graft_lineitem l
                  WHERE l.l_partkey = ps.l_partkey
                    AND l.l_returnflag = 'R'
                    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                    AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'))
          ORDER BY s_name""")
      },
      Some("""SELECT s_name
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |WHERE n_regionkey = 3
             |  AND s_suppkey IN (
             |    SELECT ps.l_suppkey FROM lineitem ps
             |    WHERE ps.l_returnflag = 'N'
             |      AND ps.l_partkey IN (SELECT p_partkey FROM part
             |                           WHERE p_name LIKE 'cold ring%')
             |      AND CAST(ROUND(ps.l_quantity*100, 0) AS BIGINT) * 2 > (
             |        SELECT SUM(CAST(ROUND(l.l_quantity*100, 0) AS BIGINT))
             |        FROM lineitem l
             |        WHERE l.l_partkey = ps.l_partkey
             |          AND l.l_returnflag = 'R'
             |          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'))
             |ORDER BY s_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q22 ★ (new r8) — TPC-H Q22 (global sales opportunity)
    // through the SQL front-end: the remaining classic decorrelation
    // shape after Q4/Q17/Q21/Q20 — an UNCORRELATED scalar-agg threshold
    // (above-average balance; stays a once-executed scalar subquery in
    // the optimized plan, broadcast as a literal — the correct plan,
    // NOT a decorrelation miss) composed with a correlated NOT EXISTS
    // that must become a LEFT ANTI join against the corpus-sized orders
    // table with no fan-out. The TPC-H avg threshold is a float
    // boundary; it is cleared to exact integers the q_sql_q17 way —
    // bal_c · count > sum_c ⟺ bal > avg — costing a second uncorrelated
    // scalar agg and making the row set engine-exact. Fixture
    // adaptation (no c_phone country codes): the customer segment is
    // nation-region ∈ {1, 3} via the nation join, and "never ordered"
    // probes urgent orders only (every customer has ~10 orders on this
    // fixture — P(no order) ≈ e⁻¹⁰ ≈ 0 — while P(no urgent order)
    // ≈ e⁻² keeps the anti join selective and the result nonzero:
    // 1/35/387 customers at sf0.001/0.01/0.1). At 100 TB: the
    // threshold aggs are two corpus scans reduced to one row each; the
    // anti join shuffles customer and the o_custkey projection of
    // orders on the key — no broadcast of anything corpus-sized.
    QueryDef(
      "q_sql_q22",
      (s: SparkSession, dir: String) => {
        Seq("customer", "nation", "orders").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT n_name, COUNT(*) AS numcust,
            SUM(CAST(ROUND(c_acctbal*100, 0) AS BIGINT)) AS totacctbal_c
          FROM graft_customer JOIN graft_nation ON c_nationkey = n_nationkey
          WHERE n_regionkey IN (1, 3)
            AND CAST(ROUND(c_acctbal*100, 0) AS BIGINT) *
              (SELECT COUNT(*)
               FROM graft_customer JOIN graft_nation ON c_nationkey = n_nationkey
               WHERE c_acctbal > 0.0 AND n_regionkey IN (1, 3)) >
              (SELECT SUM(CAST(ROUND(c_acctbal*100, 0) AS BIGINT))
               FROM graft_customer JOIN graft_nation ON c_nationkey = n_nationkey
               WHERE c_acctbal > 0.0 AND n_regionkey IN (1, 3))
            AND NOT EXISTS (SELECT 1 FROM graft_orders
                            WHERE o_custkey = c_custkey
                              AND o_orderpriority = '1-URGENT')
          GROUP BY n_name
          ORDER BY n_name""")
      },
      Some("""SELECT n_name, COUNT(*) AS numcust,
             |  CAST(SUM(CAST(ROUND(c_acctbal*100, 0) AS BIGINT)) AS BIGINT)
             |    AS totacctbal_c
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_regionkey IN (1, 3)
             |  AND CAST(ROUND(c_acctbal*100, 0) AS BIGINT) *
             |    (SELECT COUNT(*)
             |     FROM customer JOIN nation ON c_nationkey = n_nationkey
             |     WHERE c_acctbal > 0.0 AND n_regionkey IN (1, 3)) >
             |    (SELECT CAST(SUM(CAST(ROUND(c_acctbal*100, 0) AS BIGINT))
             |       AS BIGINT)
             |     FROM customer JOIN nation ON c_nationkey = n_nationkey
             |     WHERE c_acctbal > 0.0 AND n_regionkey IN (1, 3))
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderpriority = '1-URGENT')
             |GROUP BY n_name
             |ORDER BY n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q13 ★ (new r9) — TPC-H Q13 (customer order-count
    // distribution) through the SQL front-end: the one classic
    // outer-join-aggregation shape the battery didn't cover
    // (Q1/Q3/Q4/Q5/Q17/Q20/Q21/Q22 are all inner/semi/anti) — a LEFT
    // OUTER join whose ON clause carries a non-key filter (TPC-H's
    // `o_comment NOT LIKE '%special%requests%'`; adapted to the
    // fixture's double-wildcard `o_orderpriority NOT LIKE
    // '%NOT%SPECIFIED%'` plus a half-year o_orderdate band), then TWO
    // stacked aggregations: per-customer COUNT(o_orderkey) — which must
    // count 0, not NULL, for customers whose every order the ON filter
    // rejected (the null-preserving path under test) — and the
    // count-of-counts histogram. The date band keeps the zero bucket
    // REAL at every SF (67/846/8215 zero-order customers at
    // sf0.001/0.01/0.1; without it P(no qualifying order) ≈ e⁻⁸ ≈ 0 on
    // this ~10-orders-per-customer fixture and the outer join would be
    // inner in all but name). The ON-clause filters must not be HOISTED
    // above the join as post-join WHERE filters (that would drop the
    // null-padded customers the zero bucket counts); pushing them DOWN
    // into the orders scan is semantics-preserving and is the desired
    // plan — SqlFunctionsSpec pins one LeftOuter with the filter below
    // the join on the orders side.
    // At 100 TB: the filtered o_custkey projection of orders and
    // customer shuffle once on the key (no corpus-sized broadcast);
    // agg 1 is co-partitioned with the join (no extra exchange); agg 2
    // reduces to the ≤ max-orders-per-customer count domain — one real
    // shuffle of dimension-projected data end-to-end.
    QueryDef(
      "q_sql_q13",
      (s: SparkSession, dir: String) => {
        Seq("customer", "orders").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT c_count, COUNT(*) AS custdist
          FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM graft_customer LEFT OUTER JOIN graft_orders
              ON c_custkey = o_custkey
              AND o_orderpriority NOT LIKE '%NOT%SPECIFIED%'
              AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
            GROUP BY c_custkey) c_orders
          GROUP BY c_count
          ORDER BY custdist DESC, c_count DESC""")
      },
      Some("""SELECT c_count, COUNT(*) AS custdist
             |FROM (
             |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders
             |    ON c_custkey = o_custkey
             |    AND o_orderpriority NOT LIKE '%NOT%SPECIFIED%'
             |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
             |    AND o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
             |  GROUP BY c_custkey) c_orders
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q15 ★ (new r9) — TPC-H Q15 (top supplier) through the SQL
    // front-end: the ARGMAX-over-aggregates shape — a grouped revenue
    // aggregation consumed twice, once as the join input and once
    // reduced to a scalar MAX that selects the winner(s). TPC-H phrases
    // it as a view; here it is a CTE + uncorrelated scalar subquery,
    // which Catalyst must keep ONCE-EXECUTED (a decorrelation miss
    // would re-aggregate lineitem per supplier row). Revenue is exact
    // e4 integer: price_c × (100 − disc_c) — no float boundary, so the
    // argmax row set is engine-exact (unique winner measured at every
    // SF; ties would return all maxima identically in both engines).
    // At 100 TB: two lineitem scans (one per revenue consumer — the
    // optimizer's scalar-subquery CSE is not relied on), each reduced
    // by the quarter filter AT THE SCAN, grouped on l_suppkey
    // (map-side combine), then a supplier-keyed equi-join of the
    // supplier-cardinality revenue frame. Nothing corpus-sized is
    // broadcast; no fan-out (SqlFunctionsSpec pins the plan).
    QueryDef(
      "q_sql_q15",
      (s: SparkSession, dir: String) => {
        Seq("supplier", "lineitem").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
              SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT) *
                  (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS total_e4
            FROM graft_lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey)
          SELECT s_suppkey, s_name, total_e4
          FROM graft_supplier JOIN revenue ON s_suppkey = supplier_no
          WHERE total_e4 = (SELECT MAX(total_e4) FROM revenue)
          ORDER BY s_suppkey""")
      },
      Some("""WITH revenue AS (
             |  SELECT l_suppkey AS supplier_no,
             |    CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT) *
             |        (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS BIGINT)
             |      AS total_e4
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, total_e4
             |FROM supplier JOIN revenue ON s_suppkey = supplier_no
             |WHERE total_e4 = (SELECT MAX(total_e4) FROM revenue)
             |ORDER BY s_suppkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q18 ★ (new r9) — TPC-H Q18 (large-volume customers) through
    // the SQL front-end: IN over a GROUPED-HAVING subquery — the
    // semi-join-on-an-aggregate decorrelation shape the battery lacked
    // (Q4/Q20-22 probe raw or filtered tables; here the probe side is
    // itself a full groupBy of the fact table). Catalyst must rewrite
    // to one LEFT SEMI on o_orderkey fed by the aggregated HAVING frame
    // — no fan-out, no re-aggregation per probe row. Threshold
    // sum(qty_c) > 30000 ≈ p99.7 of per-order quantity at every SF
    // (5/46/100-capped result rows at sf0.001/0.01/0.1) — selective
    // but never empty, and far from any tie boundary (integer cents).
    // Deterministic LIMIT: the ORDER BY is a total order (price desc,
    // date, orderkey). At 100 TB: one lineitem groupBy(l_orderkey) with
    // map-side combine feeds the semi join; the outer
    // customer⋈orders⋈lineitem chain shuffles on its equi-keys; the
    // final TakeOrderedAndProject caps driver results at 100 rows.
    QueryDef(
      "q_sql_q18",
      (s: SparkSession, dir: String) => {
        Seq("customer", "orders", "lineitem").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT c_name, c_custkey, o_orderkey, o_orderdate,
            CAST(ROUND(o_totalprice*100, 0) AS BIGINT) AS o_totalprice_c,
            SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS sum_qty_c
          FROM graft_customer
            JOIN graft_orders ON c_custkey = o_custkey
            JOIN graft_lineitem ON o_orderkey = l_orderkey
          WHERE o_orderkey IN (
            SELECT l_orderkey FROM graft_lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) > 30000)
          GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
          ORDER BY o_totalprice_c DESC, o_orderdate, o_orderkey
          LIMIT 100""")
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
             |  CAST(ROUND(o_totalprice*100, 0) AS BIGINT) AS o_totalprice_c,
             |  CAST(SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS BIGINT)
             |    AS sum_qty_c
             |FROM customer
             |  JOIN orders ON c_custkey = o_custkey
             |  JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey IN (
             |  SELECT l_orderkey FROM lineitem
             |  GROUP BY l_orderkey
             |  HAVING SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) > 30000)
             |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
             |ORDER BY o_totalprice_c DESC, o_orderdate, o_orderkey
             |LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q2 ★ (new r9) — TPC-H Q2 (minimum-cost supplier) through the
    // SQL front-end: the CORRELATED SCALAR-MIN decorrelation — for each
    // part, keep the supplier(s) whose cost equals the per-part minimum
    // over a region-restricted supply relation. Catalyst must rewrite
    // the correlated `= (SELECT MIN ...)` into a per-partkey aggregate
    // joined back (RewriteCorrelatedScalarSubquery) — the optimized
    // plan carries NO residual subquery and no cartesian
    // (SqlFunctionsSpec pins both). Fixture adaptation (no partsupp
    // table): the supply relation is derived — per (part, supplier)
    // MINIMUM line price in exact cents over lineitem; region 3 via the
    // supplier→nation join on BOTH the outer block and the subquery,
    // p_name prefix as in Q20. Ties at the minimum return all
    // suppliers, identically in both engines (exact integers). At
    // 100 TB: supply is one lineitem groupBy (map-side combine); the
    // min-per-part agg and the equality probe are partkey-keyed
    // equi-joins; nation/region dims broadcast by size.
    QueryDef(
      "q_sql_q2",
      (s: SparkSession, dir: String) => {
        Seq("part", "supplier", "lineitem", "nation").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          WITH supply AS (
            SELECT l_partkey, l_suppkey,
              MIN(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS cost_c
            FROM graft_lineitem GROUP BY l_partkey, l_suppkey)
          SELECT p_partkey, p_name, s_name, cost_c
          FROM graft_part, graft_supplier, supply, graft_nation
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND s_nationkey = n_nationkey AND n_regionkey = 3
            AND p_name LIKE 'cold%'
            AND cost_c = (SELECT MIN(s2.cost_c)
                          FROM supply s2, graft_supplier sp2, graft_nation n2
                          WHERE s2.l_partkey = p_partkey
                            AND s2.l_suppkey = sp2.s_suppkey
                            AND sp2.s_nationkey = n2.n_nationkey
                            AND n2.n_regionkey = 3)
          ORDER BY p_partkey, s_name""")
      },
      Some("""WITH supply AS (
             |  SELECT l_partkey, l_suppkey,
             |    MIN(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS cost_c
             |  FROM lineitem GROUP BY l_partkey, l_suppkey)
             |SELECT p_partkey, p_name, s_name, cost_c
             |FROM part, supplier, supply, nation
             |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = 3
             |  AND p_name LIKE 'cold%'
             |  AND cost_c = (SELECT MIN(s2.cost_c)
             |                FROM supply s2, supplier sp2, nation n2
             |                WHERE s2.l_partkey = p_partkey
             |                  AND s2.l_suppkey = sp2.s_suppkey
             |                  AND sp2.s_nationkey = n2.n_nationkey
             |                  AND n2.n_regionkey = 3)
             |ORDER BY p_partkey, s_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q11 ★ (new r9) — TPC-H Q11 (important stock) through the
    // SQL front-end: grouped value per part HAVING above a fraction of
    // the GLOBAL total of the same grouped relation — the
    // aggregate-vs-scalar-of-itself shape (the CTE is consumed as rows
    // AND reduced to two scalars). TPC-H's `> SUM(...) * 0.0001`
    // fraction is SF-dependent (empty above sf0.001 here) and float;
    // replaced by the scale-free exact-integer form
    // val_c · count > 2 · total — "parts above twice the mean share" —
    // which stays populated at every SF (12/46/644 rows) and crosses no
    // float boundary. The comparison multiplies two BIGINTs, so it runs
    // in DECIMAL(38,0) on BOTH sides (r9 advice): Spark non-ANSI would
    // silently wrap past 2^63 where DuckDB promotes — a latent
    // cross-engine divergence; in DECIMAL both engines are exact to
    // 10^38, unreachable (val_c·count < 10^15 even at sf100).
    // Both scalar reductions must stay once-executed
    // scalar subqueries (spec-pinned, as q_sql_q22/q15). At 100 TB:
    // one region-filtered lineitem⋈supplier⋈nation pass grouped on
    // l_partkey, then two 1-row reductions of that vocabulary-sized
    // frame — no second corpus scan, nothing corpus-sized broadcast.
    QueryDef(
      "q_sql_q11",
      (s: SparkSession, dir: String) => {
        Seq("supplier", "lineitem", "nation").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          WITH val AS (
            SELECT l_partkey,
              SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS val_c
            FROM graft_lineitem
              JOIN graft_supplier ON l_suppkey = s_suppkey
              JOIN graft_nation ON s_nationkey = n_nationkey
            WHERE n_regionkey = 1
            GROUP BY l_partkey)
          SELECT l_partkey, val_c FROM val
          WHERE CAST(val_c AS DECIMAL(38,0)) * (SELECT COUNT(*) FROM val) >
                2 * CAST((SELECT SUM(val_c) FROM val) AS DECIMAL(38,0))
          ORDER BY val_c DESC, l_partkey""")
      },
      Some("""WITH val AS (
             |  SELECT l_partkey,
             |    CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT)
             |      AS val_c
             |  FROM lineitem
             |    JOIN supplier ON l_suppkey = s_suppkey
             |    JOIN nation ON s_nationkey = n_nationkey
             |  WHERE n_regionkey = 1
             |  GROUP BY l_partkey)
             |SELECT l_partkey, val_c FROM val
             |WHERE CAST(val_c AS DECIMAL(38,0)) * (SELECT COUNT(*) FROM val) >
             |      2 * CAST((SELECT CAST(SUM(val_c) AS BIGINT) FROM val)
             |               AS DECIMAL(38,0))
             |ORDER BY val_c DESC, l_partkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q16 ★ (new r9) — TPC-H Q16 (parts/supplier relationship)
    // through the SQL front-end: NOT IN over a filtered key subquery +
    // COUNT(DISTINCT) per attribute group. NOT IN is the null-AWARE
    // anti shape: with nullable keys Spark must plan a null-aware anti
    // join, which only exists as a broadcast nested loop — a scale
    // trap. The explicit IS NOT NULL guards on both the probe and the
    // subquery side let Catalyst prove non-nullability and plan the
    // plain LEFT ANTI equi-join instead (spec pins LeftAnti, no BNLJ) —
    // the write-it-so-it-scales lesson this row exists to encode.
    // "Complaint" suppliers (TPC-H's comment LIKE) adapt to negative
    // account balance. At 100 TB: the anti probe is supplier-keyed; the
    // distinct-supplier count shuffles (brand,type,size,supp) once with
    // partial dedup map-side.
    QueryDef(
      "q_sql_q16",
      (s: SparkSession, dir: String) => {
        Seq("part", "supplier", "lineitem").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT p_brand, p_type, p_size,
            COUNT(DISTINCT l_suppkey) AS supplier_cnt
          FROM graft_part JOIN graft_lineitem ON p_partkey = l_partkey
          WHERE p_type <> 'PROMO'
            AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
            AND l_suppkey IS NOT NULL
            AND l_suppkey NOT IN (SELECT s_suppkey FROM graft_supplier
                                  WHERE s_acctbal < 0
                                    AND s_suppkey IS NOT NULL)
          GROUP BY p_brand, p_type, p_size
          ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
      },
      Some("""SELECT p_brand, p_type, p_size,
             |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             |FROM part JOIN lineitem ON p_partkey = l_partkey
             |WHERE p_type <> 'PROMO'
             |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
             |  AND l_suppkey IS NOT NULL
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
             |                        WHERE s_acctbal < 0
             |                          AND s_suppkey IS NOT NULL)
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // ------------------------------------------------------------------
    // q_sql_q19 ★ (new r9) — TPC-H Q19 (discounted revenue) through the
    // SQL front-end: the DISJUNCTIVE JOIN PREDICATE — three OR'd
    // conjunct groups, EACH repeating the p_partkey = l_partkey
    // equality inside it (the faithful Q19 text). The planner test:
    // Catalyst must factor the common equi-conjunct OUT of the
    // disjunction (CNF extraction) and plan one equi hash/merge join
    // with the residual OR as the join filter — a naive planner reads
    // the top-level OR, finds no conjunct equality, and cartesians.
    // It must ALSO derive pushed-down scan filters from the OR (the
    // part-only disjunction prunes the part scan; the l_quantity
    // disjunction prunes lineitem). Spec pins: exactly one equi Join,
    // no CartesianProduct/BNLJ, and the derived OR-filter present
    // below the join on both sides. Output is a 1-row exact-cents
    // total + count. Brand/container predicates adapt to the fixture's
    // p_type/p_size space.
    QueryDef(
      "q_sql_q19",
      (s: SparkSession, dir: String) => {
        Seq("part", "lineitem").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql("""
          SELECT COUNT(*) AS n,
            SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS revenue_c
          FROM graft_lineitem, graft_part
          WHERE (p_partkey = l_partkey AND p_type = 'ECONOMY'
                 AND p_size BETWEEN 1 AND 15 AND l_quantity <= 20)
             OR (p_partkey = l_partkey AND p_type = 'PROMO'
                 AND p_size BETWEEN 10 AND 30
                 AND l_quantity BETWEEN 10 AND 30)
             OR (p_partkey = l_partkey AND p_type = 'STANDARD'
                 AND p_size BETWEEN 20 AND 50 AND l_quantity >= 25)""")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT)
             |    AS revenue_c
             |FROM lineitem, part
             |WHERE (p_partkey = l_partkey AND p_type = 'ECONOMY'
             |       AND p_size BETWEEN 1 AND 15 AND l_quantity <= 20)
             |   OR (p_partkey = l_partkey AND p_type = 'PROMO'
             |       AND p_size BETWEEN 10 AND 30
             |       AND l_quantity BETWEEN 10 AND 30)
             |   OR (p_partkey = l_partkey AND p_type = 'STANDARD'
             |       AND p_size BETWEEN 20 AND 50 AND l_quantity >= 25)""".stripMargin)),

    // ------------------------------------------------------------------
    // q_bloom_join ★ (new r5) — RUNTIME-FILTERED fact⋈dim join: urgent
    // orders' keys fold into a driver-built bloom filter
    // (ScaleOps.bloomPrune — the explicit InjectRuntimeFilter pattern),
    // the fact scan is pre-filtered map-side by the broadcast bloom
    // (~80% of lineitem never reaches the shuffle; at 100 TB that IS
    // the query cost), and the exact join afterwards removes the fpp
    // false positives — so the RESULT is byte-identical to the plain
    // join the oracle runs, which is the point: the bloom is pure
    // physical optimization, invisible in the answer. The exact join
    // carries NO broadcast hint (r8): the urgent-order key set is a
    // fixed FRACTION of orders — corpus-sized, the r7 interval-join
    // bug class — so it must be allowed to shuffle at scale (the bloom
    // is bit-compact where the exact key set is not; that asymmetry is
    // the whole reason the pattern exists). AQE still broadcasts it at
    // test SF. Aggregates in exact e2 ints as always.
    QueryDef(
      "q_bloom_join",
      (s: SparkSession, dir: String) => {
        import graft.operators.ScaleOps
        val dim = Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        val pruned = ScaleOps.bloomPrune(
          Tables(s, dir, "lineitem"), "l_orderkey", dim, "o_orderkey")
        pruned.join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(cents(col("l_extendedprice"))).as("sum_price_e2"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
             |    AS sum_price_e2
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
  )
}
