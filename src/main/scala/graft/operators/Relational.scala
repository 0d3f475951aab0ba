package graft.operators

import graft.{Ql, Tables}
import graft.Ql.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational completeness on the star schema (SURVEY.md §2.5 / §7 M2).
  *
  * The reference is a single-table engine — zero joins, zero set ops, zero
  * window functions (`SURVEY.md §2.5`). This module adds the relational
  * surface a credible analytics engine needs, exercised on the TPC-H-ish
  * fixtures: broadcast + sort-merge equi-joins across the full star path,
  * semi/anti joins, ranking/analytic/frame windows, rollup/cube,
  * union/intersect/except, top-k per group, pagination, and a scalar
  * function battery.
  *
  * Scale design (100 TB):
  *  - Broadcast hints are reserved for relations whose cardinality is
  *    FIXED by the schema, not the scale factor: nation (25 rows),
  *    region (5), 1-row aggregate scalars, declared inline dims. A
  *    `broadcast()` hint is mandatory — Spark's planner obeys it at any
  *    size — so hinting customer/part/supplier (which grow linearly
  *    with SF; ~20 B part rows at 100 TB) is a driver OOM at scale.
  *    Those joins carry NO hint: AQE + CBO broadcast them wherever the
  *    post-filter size fits `autoBroadcastJoinThreshold` (every sf0.1
  *    plan below still builds a BroadcastHashJoin) and degrade to a
  *    shuffle join when it doesn't — the plan is size-chosen, the
  *    semantics identical.
  *  - Fact-fact joins (lineitem⋈orders) are shuffle hash/sort-merge on the
  *    join key; at cluster scale both sides would be bucketed by orderkey
  *    to make this co-located — semantics identical.
  *  - Aggregations are partial (map-side combine) before the single
  *    key-shuffle; top-k uses TakeOrderedAndProject (per-partition heaps).
  *  - Windows are partitioned by high-cardinality keys (custkey/suppkey),
  *    never a single global partition except the pagination demo.
  */
object Relational {
  import Ql.{dec, dsum}

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Exact revenue term: extendedprice * (1 - discount) in DECIMAL. */
  private def revTerm: Column =
    dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))

  /** Skew-salted inner equi-join: scatter the skewed (big) side across
    * `salts` sub-keys derived from a per-row column, replicate the other
    * side once per salt, join on (key, salt). One hot key's rows then
    * land on `salts` reducers instead of one straggler. Result set is
    * identical to `big.join(small, key)` — only the shuffle layout
    * changes. AQE's runtime skew-join split covers most cases; this is
    * the static form for when the skew is known ahead (or AQE is off)
    * and a deterministic plan is wanted. `saltFrom` should be any
    * roughly-uniform column of the big side (a row id, a timestamp).
    * Replication factor = |small| × salts, so keep salts modest. */
  private[graft] def saltedEquiJoin(big: DataFrame, small: DataFrame,
      key: String, saltFrom: String, salts: Int): DataFrame = {
    val salted = big.withColumn("graft_salt",
      pmod(xxhash64(col(saltFrom)), lit(salts)).cast("int"))
    val replicated = small.withColumn("graft_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "graft_salt")).drop("graft_salt")
  }

  private val revSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"

  val queries: Map[String, Q] = Map(
    // Flagship: full star join path lineitem⋈orders⋈customer⋈nation⋈region
    // with broadcast dims, revenue per region/nation.
    "star_revenue_by_nation" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(revTerm).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(asc("r_name"), asc("n_name"))
    }),

    // TPC-H Q1 shape: pricing summary report (exact decimal aggregates).
    "q1_pricing_summary" -> ((s, dir) => {
      val n = count(lit(1))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(revTerm).cast("double").as("sum_disc_price"),
          sum(revTerm * (lit(1) + dec(col("l_tax")))).cast("double")
            .as("sum_charge"),
          (sum(dec(col("l_quantity"))).cast("double") / n).as("avg_qty"),
          (sum(dec(col("l_extendedprice"))).cast("double") / n).as("avg_price"),
          (sum(dec(col("l_discount"))).cast("double") / n).as("avg_disc"),
          n.as("count_order"))
        .orderBy(asc("l_returnflag"), asc("l_linestatus"))
    }),

    // TPC-H Q3 shape: unshipped-orders revenue top-10.
    "q3_shipping_priority" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .agg(sum(revTerm).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q18 shape: join against a HAVING-filtered aggregate — large
    // orders (total quantity above a cutoff) with their customers. The
    // aggregate side reduces lineitem to qualifying orderkeys BEFORE the
    // join, so only heavy orders travel through the customer join.
    "q18_large_volume_customer" -> ((s, dir) => {
      val heavy = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
        .filter(col("total_qty") > 150.0)
      heavy
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q5 shape: local-supplier revenue per nation (6-table join,
    // supplier co-located with customer nation).
    "q5_local_supplier_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(sum(revTerm).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    // Broadcast dim join: revenue by part brand.
    "brand_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(revTerm).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("p_brand"))
    }),

    // Semi join: customers that placed ≥1 order in 1995, counted by segment.
    "semi_customers_active" -> ((s, dir) => {
      val o95 = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      t(s, dir, "customer")
        .join(o95, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(asc("c_mktsegment"))
    }),

    // Anti join: customers with no 1996 orders. Scoped to one year so the
    // check is non-trivial at every fixture scale — "no orders ever" is
    // vacuously empty once every customer has at least one order.
    "anti_customers_inactive" -> ((s, dir) => {
      val o96 = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      t(s, dir, "customer")
        .join(o96, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(asc("c_custkey"))
    }),

    // Ranking window: top-3 orders per customer by price.
    "window_top_orders_per_cust" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(asc("o_custkey"), asc("rn"))
    }),

    // Frame window: per-customer running revenue (exact decimal prefix sums).
    "window_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast("double")
            .as("running_total"))
        .orderBy(asc("o_custkey"), asc("o_orderkey"))
    }),

    // Analytic window: days since the customer's previous order (lag).
    "window_order_gaps" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .as("gap_days"))
        .orderBy(asc("o_custkey"), asc("o_orderkey"))
    }),

    // Rollup with grouping id.
    "rollup_returnflag_status" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          grouping_id().as("gid"))
        .orderBy(asc("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    }),

    // Cube with grouping id.
    "cube_status_priority" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
          grouping_id().as("gid"))
        .orderBy(asc("gid"), asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }),

    // Set op: customers active in both 1995 and 1996 (INTERSECT).
    "setop_retained_customers" -> ((s, dir) => {
      def active(y: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      active(1995).intersect(active(1996)).orderBy(asc("o_custkey"))
    }),

    // Set op: customers active in 1995 but not 1996 (EXCEPT).
    "setop_churned_customers" -> ((s, dir) => {
      def active(y: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      active(1995).except(active(1996)).orderBy(asc("o_custkey"))
    }),

    // Set op: UNION (distinct) across both years.
    "setop_active_either_year" -> ((s, dir) => {
      def active(y: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      active(1995).union(active(1996)).distinct().orderBy(asc("o_custkey"))
    }),

    // UNION ALL (bag semantics — Dataset.union without distinct): the
    // zero-shuffle concatenation, and the more common union in real
    // pipelines; duplicates across the two years are the point.
    "setop_active_union_all" -> ((s, dir) => {
      def active(y: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"),
          lit(y).as("y"))
      active(1995).union(active(1996))
        .orderBy(asc("o_custkey"), asc("y"))
    }),

    // EXCEPT ALL / INTERSECT ALL (bag semantics): multiplicity-aware
    // set ops over per-order custkey rows — EXCEPT ALL keeps the
    // SURPLUS occurrences (a customer with 5 orders in 1995 and 2 in
    // 1996 appears 3 times: their order-count decline), INTERSECT ALL
    // the matched minimum. The distinct-variant queries above cannot
    // express either. Spark plans both as one aggregate computing both
    // sides' counts + a generate of min/difference — a single shuffle,
    // same scale shape as the distinct forms.
    "setop_order_decline_except_all" -> ((s, dir) => {
      def active(y: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val surplus = active(1995).exceptAll(active(1996))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_decline"))
      val matched = active(1995).intersectAll(active(1996))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_matched"))
      surplus.join(matched, Seq("o_custkey"), "left_outer")
        .selectExpr("o_custkey", "n_decline",
          "coalesce(n_matched, CAST(0 AS BIGINT)) AS n_matched")
        .orderBy(asc("o_custkey"))
    }),

    // Top-k per group: top-2 parts by revenue per supplier (rank window
    // over a pre-aggregated, partition-aligned input).
    "topk_parts_per_supplier" -> ((s, dir) => {
      val agg = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(revTerm).cast("double").as("revenue"))
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(desc("revenue"), asc("l_partkey"))
      agg.select(col("l_suppkey"), col("l_partkey"), col("revenue"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 2)
        .orderBy(asc("l_suppkey"), asc("rn"))
    }),

    // Pagination page 2 (rows 51–100) of the order feed, in-plan.
    "orders_page" -> ((s, dir) => {
      val w = Window.orderBy(desc("o_orderdate"), asc("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn").between(51, 100))
        .orderBy(asc("rn"))
    }),

    // Orders above the customer's exact average order value (window form
    // of a correlated subquery — single partition-aligned window).
    "orders_above_cust_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
      t(s, dir, "orders")
        .withColumn("avg_tp",
          sum(dec(col("o_totalprice"))).over(w).cast("double") /
            count(lit(1)).over(w))
        .filter(col("o_totalprice") > col("avg_tp"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_above"))
        .orderBy(asc("o_custkey"))
    }),

    // Scalar function battery: string/date/math on a pruned scan.
    "scalar_battery" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 200)
        .select(
          col("o_orderkey"),
          upper(col("o_orderstatus")).as("status_u"),
          lower(col("o_orderpriority")).as("prio_l"),
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          length(col("o_orderpriority")).as("prio_len"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority"))
            .as("status_prio"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          date_add(to_date(col("o_orderdate")), 30).as("due_date"),
          floor(col("o_totalprice") / 1000).cast("long").as("price_k"),
          (dec(col("o_totalprice")) * dec(lit(0.10))).cast("double")
            .as("fee"))
        .orderBy(asc("o_orderkey"))
    }),

    // Large-large sort-merge join (no broadcast): revenue by order status.
    // At cluster scale this is the bucketed/co-partitioned join path.
    "sortmerge_status_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").hint("merge")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(revTerm).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(asc("o_orderstatus"))
    }),

    // LEFT OUTER join — the most common join a real user writes:
    // customers with their 1996 order count INCLUDING zeros (the shape
    // inner/semi/anti cannot express). Built scale-first: the fact side
    // is pre-aggregated to per-custkey totals BEFORE the join, so the
    // outer join's right side is ≤ |customer| rows and legally
    // broadcastable — for LEFT OUTER only the non-preserved (right)
    // side may build the hash table, and that is exactly the side we
    // shrink. Null-extended rows surface through coalesce.
    "outer_customer_order_counts" -> ((s, dir) => {
      val oAgg = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_o"),
          sum(dec(col("o_totalprice"))).cast("double").as("spend"))
      t(s, dir, "customer")
        .join(oAgg, col("c_custkey") === col("o_custkey"),
          "left_outer")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_o"), lit(0L)).as("n_orders_1996"),
          coalesce(col("spend"), lit(0.0)).as("spend_1996"))
        .orderBy(asc("c_custkey"))
    }),

    // RIGHT OUTER join, direct form: parts with their January-1995
    // sales including never-sold parts. count(l_orderkey) skips the
    // null-extended rows — the canonical "count including zero"
    // semantics — and the null-group sum is coalesced after the
    // aggregation. For RIGHT OUTER the build side must be the LEFT
    // (non-preserved) side; the pushed-down one-month shipdate filter
    // shrinks lineitem enough that Spark broadcasts it (BuildLeft —
    // asserted pushdown in the scan). An unfiltered fact would shuffle,
    // where the pre-aggregate form above is the cheaper equivalent.
    "outer_right_parts_sold" -> ((s, dir) => {
      val liJan = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-02-01").cast("timestamp"))
      liJan
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"),
          "right_outer")
        .groupBy(col("p_partkey"), col("p_brand"))
        .agg(count(col("l_orderkey")).as("n_sold"),
          coalesce(sum(dec(col("l_quantity"))).cast("double"), lit(0.0))
            .as("qty_sold"))
        .orderBy(asc("p_partkey"))
    }),

    // FULL OUTER join: per-customer 1995-vs-1996 activity matrix with
    // both null sides surfaced (coalesced keys/counts + a CASE that
    // names which side was missing). Broadcast is NEVER legal for full
    // outer (both sides are preserved), so this is inherently the
    // shuffle/sort-merge path — asserted in RelationalSpec.
    "outer_full_year_matrix" -> ((s, dir) => {
      def yearAgg(y: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(s"n_$y"),
          sum(dec(col("o_totalprice"))).cast("double").as(s"spend_$y"))
      val a = yearAgg(1995).withColumnRenamed("o_custkey", "k95")
      val b = yearAgg(1996).withColumnRenamed("o_custkey", "k96")
      a.join(b, col("k95") === col("k96"), "full_outer")
        .select(coalesce(col("k95"), col("k96")).as("custkey"),
          coalesce(col("n_1995"), lit(0L)).as("n_1995"),
          coalesce(col("n_1996"), lit(0L)).as("n_1996"),
          coalesce(col("spend_1995"), lit(0.0)).as("spend_1995"),
          coalesce(col("spend_1996"), lit(0.0)).as("spend_1996"),
          when(col("k95").isNull, "joined")
            .when(col("k96").isNull, "churned")
            .otherwise("retained").as("activity"))
        .orderBy(asc("custkey"))
    }),

    // TPC-H Q13 shape (custdist): the one outer-join form nothing above
    // exercises — a filter INSIDE the left-outer join condition. Its
    // semantics differ from a WHERE: a customer whose every order is
    // filtered out is PRESERVED with count 0 (a WHERE would drop the
    // row after null-extension). The fixture has no o_comment, so the
    // reference predicate `o_comment NOT LIKE '%special%requests%'`
    // becomes the same-shaped `o_orderpriority NOT LIKE '%URGENT%'`,
    // plus a recency conjunct so the zero bucket is non-empty at every
    // fixture scale (the semantics under test NEEDS customers whose
    // every order fails the condition).
    // Two-level aggregate: orders-per-customer, then customers-per-
    // count. Scale shape: the join keys on custkey (plain shuffle
    // hash join — orders is too big to pre-aggregate here because the
    // filter must stay in the join condition), first aggregate reuses
    // the join's custkey partitioning (no extra shuffle), second
    // aggregate is a tiny re-key on c_count.
    "q13_customer_distribution" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust.join(ord,
          cust("c_custkey") === ord("o_custkey") &&
            !ord("o_orderpriority").like("%URGENT%") &&
            ord("o_orderdate") >= lit("1998-01-01").cast("timestamp"),
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q19 shape (discounted revenue): an OR-of-ANDs predicate
    // mixing both join sides — the disjunctive-pushdown exercise. The
    // fixture lacks containers/shipmode, so the three arms pair brand
    // + size (part side) with quantity bands (lineitem side), exactly
    // Q19's structure. Catalyst extracts the side-local residue of the
    // disjunction and pushes it into EACH scan (part gets
    // `(brand=A AND size<=5) OR (brand=B AND size<=10) OR ...`,
    // lineitem gets the quantity-band disjunction) — asserted in
    // RelationalSpec — so the broadcast dim and the fact scan both
    // shrink before the join evaluates the full cross-side predicate.
    "q19_discounted_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      def arm(brand: String, szHi: Int, qLo: Int, qHi: Int) =
        p("p_brand") === brand &&
          p("p_size").between(1, szHi) &&
          li("l_quantity").between(qLo, qHi)
      li.join(p,
          li("l_partkey") === p("p_partkey") &&
            (arm("Brand#3", 5, 1, 11) || arm("Brand#15", 10, 10, 20) ||
              arm("Brand#23", 15, 20, 30)))
        .agg(sum(revTerm).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Null-safe equality JOIN (`<=>` / IS NOT DISTINCT FROM): the join
    // whose key legitimately contains NULL as a VALUE — here a
    // nullif-derived status key joined to a dim whose NULL row labels
    // the nulled-out status. A plain `=` join silently drops every such
    // row (NULL = NULL is NULL); `<=>` matches them — semantics nothing
    // else in the join family exercises. Planner note: null-safe equi
    // keys still hash-partition (Spark treats <=> as an equi key), so
    // this stays a hash join, not a nested loop.
    "join_null_safe_status" -> ((s, dir) => {
      val dim = s.sql(
        "SELECT * FROM VALUES (CAST(NULL AS STRING), 'open'), " +
          "('F', 'final'), ('P', 'pending') AS t(k, label)")
      val o = t(s, dir, "orders")
        .selectExpr("o_orderkey", "nullif(o_orderstatus, 'O') AS k")
      o.join(broadcast(dim), o("k") <=> dim("k"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc("label"))
    }),

    // Join strategy HINT surface: force the shuffled-hash path on a
    // join the planner would otherwise broadcast or sort-merge — the
    // escape hatch for when sort-merge's sort dominates (large inputs,
    // plentiful memory, no useful output order). Asserted in
    // RelationalSpec to actually plan as ShuffledHashJoin.
    "hint_shuffle_hash_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(revTerm).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(asc("o_orderpriority"))
    }),

    // TPC-H Q22 shape (idle high-balance customers): a filter against a
    // GLOBAL scalar aggregate — the 1-row broadcast cross join pattern
    // (the decorrelated form of Q22's uncorrelated scalar subquery; at
    // any scale the average is one row, so the "join" costs nothing) —
    // composed with an anti join against RECENT orders (idle = nothing
    // since 1999; the fixture has no fully order-less customers, so
    // Q22's "never ordered" arm would be vacuous here). Country code
    // stands in as c_nationkey % 10 (no c_phone). The decimal-
    // exact davg keeps the threshold comparison bit-identical across
    // engines (a float avg would make membership of near-threshold
    // customers engine-dependent).
    "q22_idle_customers" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)))
          .as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >=
              lit("1999-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 10).as("code"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy(asc("code"))
    }),

    // TPC-H Q7 shape: volume shipping between two regions, grouped by
    // the DIRECTIONAL (supplier nation -> customer nation) pair and
    // year. Both nation lookups join the same dim under different
    // aliases; the region pre-filter is applied INSIDE each broadcast
    // side (supplier/customer shrink before touching the fact table),
    // and only the cross-pair direction test remains post-join. TPC-H
    // proper pins two nations; the fixture's 10-suppliers-at-sf0.001
    // makes that empty, so the regions stand in — same shape, denser.
    "q7_nation_volume" -> ((s, dir) => {
      val supp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .filter(col("n_regionkey").isin(0, 1))
            .select(col("n_nationkey").as("s_nk"),
              col("n_name").as("supp_nation"),
              col("n_regionkey").as("s_rk"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"), col("s_rk"))
      val cust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
            .filter(col("n_regionkey").isin(0, 1))
            .select(col("n_nationkey").as("c_nk"),
              col("n_name").as("cust_nation"),
              col("n_regionkey").as("c_rk"))),
          col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"), col("c_rk"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .filter((col("s_rk") === 0 && col("c_rk") === 1) ||
          (col("s_rk") === 1 && col("c_rk") === 0))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(revTerm).cast("double").as("volume"))
        .orderBy(asc("supp_nation"), asc("cust_nation"), asc("l_year"))
    }),

    // TPC-H Q10 shape: returned-item revenue per customer over a
    // quarter, top 20. The date filter rides the orders scan and the
    // returnflag filter the lineitem scan (both pushed); customer and
    // nation broadcast; TakeOrderedAndProject caps the result.
    "q10_returned_items" -> ((s, dir) => {
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >=
                lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum(revTerm).cast("double").as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q14 shape: promo-type revenue share for one ship month —
    // a conditional aggregate over the same decimal revenue term, the
    // ratio taken between the two exact sums only after both are cast
    // to double (identical operand bits in both engines => identical
    // quotient).
    "q14_promo_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
        .join(t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", revTerm)
            .otherwise(dec(lit(0)))).cast("double") /
          sum(revTerm).cast("double")).as("promo_revenue"))
    }),

    // TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    // the correlated "= (SELECT max(...) FROM view)" form as one keyed
    // aggregation plus a 1-row broadcast scalar join (never a re-scan
    // per candidate). Ties all surface (equality, not top-1-by-sort).
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revTerm).cast("double").as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("max_rev"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(asc("s_suppkey"))
    }),

    // TPC-H Q16 shape: distinct supplier counts per part group, with a
    // NOT IN supplier exclusion (negative balances stand in for the
    // missing complaints text). NOT IN over a provably non-null key
    // column IS an anti join — declared directly; the part filter is a
    // broadcast, the count-distinct the only shuffle.
    "q16_part_supplier_counts" -> ((s, dir) => {
      val complained = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      t(s, dir, "lineitem")
        .join(complained,
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(t(s, dir, "part")
            .filter(col("p_brand") =!= "Brand#1" &&
              col("p_size").isin(1, 5, 10, 15, 20, 25)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
          asc("p_size"))
    }),

    // TPC-H Q17 shape: revenue from small-quantity lineitems of one
    // brand, where "small" is relative to EACH part's own average
    // quantity — the correlated scalar AVG decorrelated into a grouped
    // aggregate joined back on partkey (one extra keyed shuffle, never
    // a per-row subquery). Decimal-exact avg keeps the 0.5*avg
    // threshold membership bit-identical across engines.
    "q17_small_qty_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
            .filter(col("p_brand") === "Brand#23").select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val avgq = li.groupBy(col("l_partkey"))
        .agg((sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
          .as("avg_qty"))
      li.join(avgq, "l_partkey")
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
            .as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q20 shape: suppliers who shipped a heavy total of some
    // "small"-named part in a year, within two regions — the nested
    // IN (... GROUP BY ... HAVING sum(...) > t) declared as an
    // aggregate-then-left-semi chain. Both semi joins keep supplier
    // rows intact (no duplication from the many qualifying parts), and
    // the HAVING aggregate reduces lineitem BEFORE any supplier join.
    "q20_excess_suppliers" -> ((s, dir) => {
      val heavy = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "part")
            .filter(col("p_name").startsWith("small"))
            .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .filter(col("sum_qty") > 40.0)
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_regionkey") <= 1)),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy(asc("s_suppkey"))
    }),

    // TPC-H Q4 shape: order counts per priority for orders with at
    // least one LATE lineitem — EXISTS whose condition crosses both
    // tables (l_shipdate > o_orderdate + 90 days stands in for the
    // missing commit/receipt dates). Declared as a left-semi join with
    // the compound condition; the semi join deduplicates multi-late
    // orders for free (no DISTINCT pass).
    "q4_order_priority" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(asc("o_orderpriority"))
    }),

    // TPC-H Q6 shape: forecast revenue change — a pure scan-side
    // aggregation whose THREE range predicates all push into the
    // parquet scan; the canonical "filters reach the reader" probe.
    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"))
    }),

    // TPC-H Q8 shape: national market share — one nation's share of a
    // region's market revenue per year, the numerator a conditional
    // sum INSIDE the same aggregation as the denominator (one pass,
    // one shuffle — never two scans joined back). Both sums stay
    // decimal-exact until the final division.
    "q8_market_share" -> ((s, dir) => {
      val supp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("s_nk"),
              col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation").filter(col("n_regionkey") === 0)
            .select(col("n_nationkey").as("c_nk"))),
          col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >=
                lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", revTerm)
            .otherwise(dec(lit(0)))).cast("double") /
          sum(revTerm).cast("double")).as("mkt_share"))
        .orderBy(asc("o_year"))
    }),

    // TPC-H Q9 shape: product-type profit per supplier nation and
    // year. No partsupp, so unit cost is half the part's retail price;
    // profit = revenue - cost stays one decimal-exact expression
    // summed in a single aggregation.
    "q9_product_profit" -> ((s, dir) => {
      val profitTerm = revTerm -
        dec(col("p_retailprice")) * dec(col("l_quantity")) * dec(lit(0.5))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part")
            .filter(col("p_name").contains("widget"))
            .select(col("p_partkey"), col("p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(profitTerm).cast("double").as("profit"))
        .orderBy(asc("nation"), desc("o_year"))
    }),

    // TPC-H Q11 shape: parts whose inventory value exceeds a fraction
    // of the TOTAL value — grouped aggregate filtered against a scalar
    // subquery over the same source. The threshold is computed from
    // the exact decimal total of the BASE rows (cast once), never by
    // re-summing the per-group doubles: a double re-sum would be
    // accumulation-order-dependent and make threshold membership
    // engine-specific. lineitem value plays partsupp stock value.
    "q11_important_stock" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier")
            .join(broadcast(t(s, dir, "nation")
                .filter(col("n_regionkey") === 0)
                .select(col("n_nationkey").as("s_nk"))),
              col("s_nationkey") === col("s_nk"))
            .select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"),
          (dec(col("l_extendedprice")) * dec(col("l_quantity")))
            .as("item_value"))
      val perPart = base.groupBy(col("l_partkey"))
        .agg(sum(col("item_value")).cast("double").as("value"))
      val threshold = base
        .agg((lit(0.001) * sum(col("item_value")).cast("double"))
          .as("cutoff"))
      perPart.crossJoin(broadcast(threshold))
        .filter(col("value") > col("cutoff"))
        .select(col("l_partkey"), col("value"))
        .orderBy(desc("value"), asc("l_partkey"))
    }),

    // TPC-H Q12 shape: shipping-class service levels — per class (the
    // fixture's returnflag stands in for shipmode), how many lineitems
    // belong to critical- vs normal-priority orders. count(CASE WHEN)
    // keeps both engines in BIGINT (a sum-of-ints would be HUGEINT in
    // the oracle and LongType here — a schema mismatch by type, not
    // value).
    "q12_shipping_priority_class" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag").as("ship_class"))
        .agg(
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            lit(1))).as("high_line_count"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            lit(1))).as("low_line_count"))
        .orderBy(asc("ship_class"))
    }),

    // ANSI error-handling battery: try_cast / try_divide return NULL
    // where strict ANSI evaluation would raise (malformed cast, divide
    // by zero) — the semantics that let a 100 TB batch job survive one
    // bad row instead of dying at hour three. Pinned against DuckDB's
    // TRY_CAST / CASE-guarded division: agreeing on the NULLs is the
    // point.
    "scalar_try_battery" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          expr("try_cast(o_orderpriority AS INT)").as("pri_int"),
          expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)")
            .as("pri_digit"),
          expr("try_divide(CAST(o_totalprice AS DOUBLE), " +
            "o_orderkey % 3)").as("safe_div"))
        .orderBy(asc("o_orderkey"))
    }),

    // Null-semantics battery: coalesce / nullif / null-safe equality
    // (<=>) / CASE with null arms / NULLS FIRST ordering — the scalar
    // corner where engines actually disagree, pinned against the
    // oracle. Booleans are cast to INT so the nullable three-valued
    // results (true/false/NULL) hash identically across engines.
    "null_semantics_battery" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_totalprice"),
          nullif(col("o_orderstatus"), lit("O")).as("status_n"))
        .select(
          col("o_orderkey"),
          col("status_n"),
          coalesce(col("status_n"), lit("open")).as("status_filled"),
          (col("status_n") <=> lit("F")).cast("int").as("eq_nullsafe"),
          (col("status_n") === lit("F")).cast("int").as("eq_plain"),
          when(col("status_n").isNull, lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("price_if_closed"))
        .orderBy(asc_nulls_first("status_n"), asc("o_orderkey"))
    }),

    // Window-function tail: ntile quartiles, percent_rank, first/nth
    // value over an explicit full frame, and a RANGE-framed trailing
    // 30-day running spend (range frames need a numeric sort key, so
    // the order date becomes a day index — which is also how an
    // engine-portable range frame is written). All windows partition
    // by the high-cardinality custkey.
    "window_tail_stats" -> ((s, dir) => {
      val wRank = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      val wFull = wRank
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wRange = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day_idx")).rangeBetween(-30, 0)
      // date-only ordering: ties are REAL here (several orders on one
      // day), which is what makes dense_rank/cume_dist distinct from
      // row_number/percent_rank — and they stay deterministic under
      // ties because peers share one value.
      val wDate = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("o_orderdate"))
      t(s, dir, "orders")
        .withColumn("day_idx",
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")))
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(wRank).as("quartile"),
          percent_rank().over(wRank).as("pct_rank"),
          dense_rank().over(wDate).as("date_rank"),
          cume_dist().over(wDate).as("date_cume"),
          first(col("o_orderkey")).over(wFull).as("first_key"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_key"),
          sum(dec(col("o_totalprice"))).over(wRange).cast("double")
            .as("spend_30d"))
        .orderBy(asc("o_custkey"), asc("o_orderkey"))
    }),

    // Relative-error quantile profile via the mergeable DDSketch-style
    // log-bucket sketch (graft.functions.QSketchAgg): per-flag price
    // sketches, then the UNION face folds them into a global profile —
    // the two-level day-sketch→quarter-rollup shape a 100 TB latency/
    // price profiler runs without touching raw data twice. Estimates
    // carry a RELATIVE error bound (p99 of a heavy tail stays within
    // alpha% of truth, where rank-error sketches can miss the whole
    // tail). Deterministic (bucket addition commutes) so the rows-only
    // check is stable; NOT oracle-compared: bucketed estimates are
    // engine-specific by nature (same contract as the HLL/CMS family).
    // The spec pins the alpha-bound against exact quantiles.
    "sketch_price_quantiles" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val perFlag = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("graft_qsketch(CAST(l_extendedprice AS DOUBLE), 1)")
          .as("sk"), count(lit(1)).as("n"))
      val global = perFlag
        .agg(expr("graft_qsketch_union(sk)").as("sk"),
          sum(col("n")).as("n"))
        .select(lit("ALL").as("l_returnflag"), col("sk"), col("n"))
      perFlag.unionByName(global)
        .selectExpr("l_returnflag", "n",
          "round(graft_qsketch_quantile(sk, 0.5), 2) AS p50",
          "round(graft_qsketch_quantile(sk, 0.9), 2) AS p90",
          "round(graft_qsketch_quantile(sk, 0.99), 2) AS p99")
        .orderBy(asc("l_returnflag"))
    }),

    // Small broadcast chain: customer count per region.
    "customers_per_region" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          countDistinct(col("n_name")).as("n_nations"))
        .orderBy(asc("r_name"))
    }))

  val oracleSql: Map[String, String] = Map(
    "star_revenue_by_nation" ->
      s"""SELECT r_name, n_name,
         |  CAST(sum($revSql) AS DOUBLE) AS revenue, count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_base_price,
         |  CAST(sum($revSql) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum($revSql * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)
         |    AS sum_charge,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)
         |    AS avg_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         |    / count(*) AS avg_price,
         |  CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*)
         |    AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      s"""SELECT l_orderkey,
         |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
         |  CAST(sum($revSql) AS DOUBLE) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY l_orderkey, orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q18_large_volume_customer" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  o_totalprice, total_qty
        |FROM (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |      AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING total_qty > 150.0) heavy
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q5_local_supplier_revenue" ->
      s"""SELECT n_name, CAST(sum($revSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "brand_revenue" ->
      s"""SELECT p_brand, CAST(sum($revSql) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY revenue DESC, p_brand""".stripMargin,
    "semi_customers_active" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "anti_customers_inactive" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "window_top_orders_per_cust" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "window_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "window_order_gaps" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey),
        |    o_orderdate) AS INTEGER) AS gap_days
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "rollup_returnflag_status" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin,
    "cube_status_priority" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_price,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin,
    "setop_retained_customers" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY o_custkey""".stripMargin,
    "setop_churned_customers" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY o_custkey""".stripMargin,
    "setop_active_either_year" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |UNION
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY o_custkey""".stripMargin,
    "setop_order_decline_except_all" ->
      """WITH a95 AS (SELECT o_custkey FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
        |a96 AS (SELECT o_custkey FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |surplus AS (SELECT o_custkey, count(*) AS n_decline FROM
        |    (SELECT o_custkey FROM a95 EXCEPT ALL
        |     SELECT o_custkey FROM a96) GROUP BY o_custkey),
        |matched AS (SELECT o_custkey, count(*) AS n_matched FROM
        |    (SELECT o_custkey FROM a95 INTERSECT ALL
        |     SELECT o_custkey FROM a96) GROUP BY o_custkey)
        |SELECT surplus.o_custkey, n_decline,
        |  CAST(coalesce(n_matched, 0) AS BIGINT) AS n_matched
        |FROM surplus LEFT OUTER JOIN matched
        |  ON surplus.o_custkey = matched.o_custkey
        |ORDER BY surplus.o_custkey""".stripMargin,
    "setop_active_union_all" ->
      """SELECT o_custkey, 1995 AS y FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |UNION ALL
        |SELECT o_custkey, 1996 AS y FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY o_custkey, y""".stripMargin,
    "topk_parts_per_supplier" ->
      s"""SELECT * FROM (
         |  SELECT l_suppkey, l_partkey, revenue,
         |    row_number() OVER (PARTITION BY l_suppkey
         |      ORDER BY revenue DESC, l_partkey) AS rn
         |  FROM (SELECT l_suppkey, l_partkey,
         |          CAST(sum($revSql) AS DOUBLE) AS revenue
         |        FROM lineitem GROUP BY l_suppkey, l_partkey))
         |WHERE rn <= 2 ORDER BY l_suppkey, rn""".stripMargin,
    "orders_page" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn BETWEEN 51 AND 100 ORDER BY rn""".stripMargin,
    "orders_above_cust_avg" ->
      """SELECT o_custkey, count(*) AS n_above FROM (
        |  SELECT o_custkey, o_totalprice,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
        |      OVER (PARTITION BY o_custkey) AS DOUBLE)
        |      / count(*) OVER (PARTITION BY o_custkey) AS avg_tp
        |  FROM orders)
        |WHERE o_totalprice > avg_tp
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "scalar_battery" ->
      """SELECT o_orderkey,
        |  upper(o_orderstatus) AS status_u,
        |  lower(o_orderpriority) AS prio_l,
        |  substring(o_orderpriority, 1, 1) AS prio_code,
        |  length(o_orderpriority) AS prio_len,
        |  o_orderstatus || '-' || o_orderpriority AS status_prio,
        |  year(o_orderdate) AS y,
        |  month(o_orderdate) AS m,
        |  day(o_orderdate) AS d,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |       * CAST(0.10 AS DECIMAL(12,2)) AS DOUBLE) AS fee
        |FROM orders WHERE o_orderkey < 200
        |ORDER BY o_orderkey""".stripMargin,
    "sortmerge_status_revenue" ->
      s"""SELECT o_orderstatus, CAST(sum($revSql) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "outer_customer_order_counts" ->
      """SELECT c_custkey, c_mktsegment,
        |  coalesce(n_o, 0) AS n_orders_1996,
        |  coalesce(spend, 0.0) AS spend_1996
        |FROM customer
        |LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_o,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |      AS spend
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY o_custkey) o ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "outer_right_parts_sold" ->
      """SELECT p_partkey, p_brand, count(l_orderkey) AS n_sold,
        |  coalesce(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE),
        |    0.0) AS qty_sold
        |FROM (SELECT * FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1995-02-01 00:00:00') l
        |RIGHT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey, p_brand ORDER BY p_partkey""".stripMargin,
    "outer_full_year_matrix" ->
      """WITH a95 AS (
        |  SELECT o_custkey, count(*) AS n_1995,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |      AS spend_1995
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY o_custkey),
        |a96 AS (
        |  SELECT o_custkey, count(*) AS n_1996,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |      AS spend_1996
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT coalesce(a95.o_custkey, a96.o_custkey) AS custkey,
        |  coalesce(n_1995, 0) AS n_1995,
        |  coalesce(n_1996, 0) AS n_1996,
        |  coalesce(spend_1995, 0.0) AS spend_1995,
        |  coalesce(spend_1996, 0.0) AS spend_1996,
        |  CASE WHEN a95.o_custkey IS NULL THEN 'joined'
        |       WHEN a96.o_custkey IS NULL THEN 'churned'
        |       ELSE 'retained' END AS activity
        |FROM a95 FULL OUTER JOIN a96 ON a95.o_custkey = a96.o_custkey
        |ORDER BY custkey""".stripMargin,
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey
        |   AND o_orderpriority NOT LIKE '%URGENT%'
        |   AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q19_discounted_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "join_null_safe_status" ->
      """SELECT label, count(*) AS n
        |FROM (SELECT nullif(o_orderstatus, 'O') AS k FROM orders) o
        |JOIN (VALUES (NULL, 'open'), ('F', 'final'), ('P', 'pending'))
        |  AS t(k, label)
        |  ON o.k IS NOT DISTINCT FROM t.k
        |GROUP BY label ORDER BY label""".stripMargin,
    "hint_shuffle_hash_revenue" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q22_idle_customers" ->
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |      / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey % 10 AS code, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY code ORDER BY code""".stripMargin,
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_regionkey = 0 AND n2.n_regionkey = 1)
        |    OR (n1.n_regionkey = 1 AND n2.n_regionkey = 0))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q16_part_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |avgq AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |      / count(*) AS avg_qty
        |  FROM li GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
        |    AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_items
        |FROM li JOIN avgq USING (l_partkey)
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,
    "q20_excess_suppliers" ->
      """SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey
        |    FROM lineitem JOIN part ON l_partkey = p_partkey
        |    WHERE p_name LIKE 'small%'
        |      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    GROUP BY l_partkey, l_suppkey
        |    HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
        |      AS DOUBLE) > 40.0)
        |  AND s_nationkey IN (
        |    SELECT n_nationkey FROM nation WHERE n_regionkey <= 1)
        |ORDER BY s_suppkey""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |  AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE n2.n_regionkey = 0
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |    - CAST(p_retailprice AS DECIMAL(12,2))
        |      * CAST(l_quantity AS DECIMAL(12,2))
        |      * CAST(0.5 AS DECIMAL(12,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_stock" ->
      """WITH base AS (
        |  SELECT l_partkey,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(l_quantity AS DECIMAL(12,2)) AS item_value
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_regionkey = 0))
        |SELECT l_partkey, CAST(sum(item_value) AS DOUBLE) AS value
        |FROM base
        |GROUP BY l_partkey
        |HAVING CAST(sum(item_value) AS DOUBLE) >
        |  (SELECT 0.001 * CAST(sum(item_value) AS DOUBLE) FROM base)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "q12_shipping_priority_class" ->
      """SELECT l_returnflag AS ship_class,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY ship_class
        |ORDER BY ship_class""".stripMargin,
    "scalar_try_battery" ->
      """SELECT o_orderkey,
        |  TRY_CAST(o_orderpriority AS INTEGER) AS pri_int,
        |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
        |    AS pri_digit,
        |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |       ELSE CAST(o_totalprice AS DOUBLE) / (o_orderkey % 3)
        |  END AS safe_div
        |FROM orders WHERE o_orderkey < 300
        |ORDER BY o_orderkey""".stripMargin,
    "null_semantics_battery" ->
      """SELECT o_orderkey, status_n,
        |  coalesce(status_n, 'open') AS status_filled,
        |  CAST(status_n IS NOT DISTINCT FROM 'F' AS INT) AS eq_nullsafe,
        |  CAST(status_n = 'F' AS INT) AS eq_plain,
        |  CASE WHEN status_n IS NULL THEN NULL
        |       ELSE o_totalprice END AS price_if_closed
        |FROM (SELECT o_orderkey, o_totalprice,
        |        nullif(o_orderstatus, 'O') AS status_n
        |      FROM orders WHERE o_orderkey < 1000)
        |ORDER BY status_n NULLS FIRST, o_orderkey""".stripMargin,
    "window_tail_stats" ->
      """SELECT o_custkey, o_orderkey,
        |  ntile(4) OVER wr AS quartile,
        |  percent_rank() OVER wr AS pct_rank,
        |  dense_rank() OVER wd AS date_rank,
        |  cume_dist() OVER wd AS date_cume,
        |  first_value(o_orderkey) OVER wf AS first_key,
        |  nth_value(o_orderkey, 2) OVER wf AS second_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY day_idx
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS spend_30d
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |        date_diff('day', DATE '1995-01-01',
        |          CAST(o_orderdate AS DATE)) AS day_idx
        |      FROM orders)
        |WINDOW wr AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey),
        |  wd AS (PARTITION BY o_custkey ORDER BY o_orderdate),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "customers_per_region" ->
      """SELECT r_name, count(*) AS n_customers,
        |  count(DISTINCT n_name) AS n_nations
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
}
