package graft.operators

import graft.{Ql, Tables}
import graft.Ql.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal/advanced operators the reference lacks entirely (SURVEY.md
  * §2.5): as-of join, range join, native offset pagination, approximate
  * aggregates. All composed from built-in Spark primitives — preference
  * order (a) of the custom-operator ladder; none needs a custom
  * `SparkPlan`.
  *
  * Scale notes:
  *  - The as-of join uses the union+window formulation: tag both sides,
  *    union, one shuffle on the partition key, `last(..., ignoreNulls)`
  *    over an ordered window. This is the scalable form — no per-key
  *    lateral lookup, no broadcast of a time index; state is one row per
  *    partition during the window scan.
  *  - The range join broadcasts the (tiny) band dimension; Spark plans
  *    BroadcastNestedLoopJoin, which is correct here because the band
  *    table is O(10) rows. For large range dims the right shape is a
  *    bucketed interval index, not a nested loop.
  *  - `approx_count_distinct`/`percentile_approx` are the mergeable-
  *    sketch (HLL / KLL-ish) versions of A1/A11 for the 100 TB path —
  *    exact multi-distinct expands the plan (SURVEY §7 sharp edges).
  */
object Temporal {
  import Ql.dsum

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  val queries: Map[String, Q] = Map(
    // AS-OF JOIN (attribution): for every purchase, the user's most
    // recent click at-or-before the purchase timestamp.
    "events_asof_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("last_click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .withColumn("last_click_us",
          last(when(col("event_type") === "click", unix_micros(col("ts"))),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("value"), col("last_click_id"),
          ((unix_micros(col("ts")) - col("last_click_us")) / 1000000L)
            .cast("long").as("gap_seconds"))
        .orderBy(asc("purchase_id"))
    }),

    // RANGE JOIN: events banded by value against an interval dimension.
    "events_value_bands" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("p0_small", 0.0, 50.0),
        ("p1_mid", 50.0, 150.0),
        ("p2_large", 150.0, 1e9)).toDF("band", "lo", "hi")
      ev(s, dir)
        .join(broadcast(bands),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(asc("band"))
    }),

    // RANGE JOIN, bucketed (the 100 TB shape): map each fact value to ONE
    // bucket of width W, explode each interval into the buckets it
    // overlaps (clamped to the data's observed bucket range, derived
    // in-plan from a 1-row bounds aggregate), then EQUI-join on bucket +
    // exact containment filter. Each (fact, interval) pair meets in
    // exactly one bucket — the fact's — so no dedup is needed. Same
    // result (and same oracle) as events_value_bands, but the plan is a
    // hash join on a shuffleable key instead of BroadcastNestedLoopJoin:
    // this is the form that survives a range dimension too large to
    // broadcast.
    "events_value_bands_bucketed" -> ((s, dir) => {
      import s.implicits._
      val w = 50.0
      val bands = Seq(
        ("p0_small", 0.0, 50.0),
        ("p1_mid", 50.0, 150.0),
        ("p2_large", 150.0, 1e9)).toDF("band", "lo", "hi")
      val bounds = ev(s, dir).agg(
        floor(min(col("value")) / w).cast("long").as("b_min"),
        floor(max(col("value")) / w).cast("long").as("b_max"))
      val bandBuckets = bands.crossJoin(broadcast(bounds))
        .withColumn("lo_b",
          greatest(floor(col("lo") / w).cast("long"), col("b_min")))
        .withColumn("hi_b",
          least(floor(col("hi") / w).cast("long"), col("b_max")))
        // guard the empty range: sequence(3, 1) steps DOWNWARD by
        // default, which would fabricate buckets for a band wholly
        // outside the data range (correct only thanks to the exact
        // re-filter, at the cost of join fan-out). The b_min IS NULL
        // arm covers an EMPTY fact table: greatest/least skip NULLs,
        // so without it the null bounds would fall back to the raw
        // interval edges and sequence() would fabricate ~20M bucket
        // rows (hi/w) before the join discovered there is nothing to
        // join to.
        .withColumn("bucket", explode(expr(
          "CASE WHEN b_min IS NULL OR lo_b > hi_b THEN array() " +
            "ELSE sequence(lo_b, hi_b) END")))
        .select(col("band"), col("lo"), col("hi"), col("bucket"))
      ev(s, dir)
        .withColumn("bucket", floor(col("value") / w).cast("long"))
        .join(bandBuckets, Seq("bucket"))
        .filter(col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(asc("band"))
    }),

    // O2 done natively: Spark >= 3.4 offset/limit (no row_number window).
    "events_page_native" -> ((s, dir) => {
      ev(s, dir)
        .orderBy(desc("ts"), asc("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .offset(100).limit(100)
    }),

    // Exact interpolated median per type (A11's percentile import).
    "events_value_median" -> ((s, dir) => {
      ev(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("median_v"),
          expr("percentile(value, 0.9)").as("p90_v"))
        .orderBy(asc("event_type"))
    }),

    // Sketch versions for the 100 TB path: HLL distinct + approximate
    // quantiles. Engine-specific estimates => rows-only driver check;
    // error bounds asserted against exact values in TemporalSpec.
    "events_approx_stats" -> ((s, dir) => {
      ev(s, dir).groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), rsd = 0.02)
            .as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(10000))
            .as("approx_median"))
        .orderBy(asc("event_type"))
    }),

    // The mergeable-sketch rollup (graft native HLL, §2.7): build one
    // 4 KB sketch per day, then union day-sketches into per-type distinct
    // users WITHOUT re-reading raw data — the exact shape of a 100 TB
    // daily rollup where only sketches are persisted. Two-level agg in
    // one plan here to prove the merge path end-to-end; estimates are
    // engine-specific => rows-only driver check, error bounds + exact
    // sketch-vs-direct agreement asserted in HllSpec.
    "events_hll_daily_rollup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      ev(s, dir)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(expr("graft_hll_sketch(user_id)").as("day_sketch"),
          count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(expr("graft_hll_union(day_sketch)").as("est_users"),
          sum(col("n")).as("n_events"))
        .orderBy(asc("event_type"))
    }))

  val oracleSql: Map[String, String] = Map(
    "events_asof_attribution" ->
      """SELECT event_id AS purchase_id, user_id, value, last_click_id,
        |  CAST((epoch_us(ts) - last_click_us) // 1000000 AS BIGINT)
        |    AS gap_seconds
        |FROM (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER w AS last_click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
        |      IGNORE NULLS) OVER w AS last_click_us
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    "events_value_bands" ->
      """SELECT band, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |JOIN (VALUES ('p0_small', 0.0, 50.0), ('p1_mid', 50.0, 150.0),
        |             ('p2_large', 150.0, 1e9)) AS bands(band, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    // identical result contract to the nested-loop form => same oracle
    "events_value_bands_bucketed" ->
      """SELECT band, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |JOIN (VALUES ('p0_small', 0.0, 50.0), ('p1_mid', 50.0, 150.0),
        |             ('p2_large', 150.0, 1e9)) AS bands(band, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "events_page_native" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id LIMIT 100 OFFSET 100""".stripMargin,
    "events_value_median" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS median_v,
        |  quantile_cont(value, 0.9) AS p90_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  // events_approx_stats: sketch output is engine-specific, rows-only.
}
