package graft

/** Plan-shape stability at 10× scale (see SCALING.md for the measured
  * wall-clock runs). These tests PLAN against the ScaleGen 10× fixture
  * (no execution — strategy selection is what's under test) and cancel
  * via assume() when the fixture hasn't been generated on this box.
  *
  * What gets pinned is deliberately SCALE-INVARIANT: no cartesian
  * products, no nested-loop joins, the fact table never on a broadcast
  * build side, join count stable. Join STRATEGY (broadcast vs shuffle)
  * is explicitly NOT pinned across scales — broadcast of an SF-growing
  * table is supposed to flip to a shuffle join once it outgrows the
  * threshold; pinning "strategy identical across scales" would pin the
  * one plan that cannot survive 100×.
  */
class ScalingSpec extends SparkSpec {
  private val bigDir =
    sys.env.getOrElse("GRAFT_SCALE_DIR", "/tmp/graft_sf10x")
  private val baseDir = "/root/testdata/sf0.1"

  private val joinKinds = Seq("BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")

  private def joinProfile(plan: String): Map[String, Int] =
    joinKinds.map(k => k -> k.r.findAllMatchIn(plan).length).toMap

  private def planOf(name: String, dir: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  /** Broadcast build sides that scan the named table's files. */
  private def broadcastScans(plan: String): String =
    "BroadcastExchange[\\s\\S]*?FileScan parquet [^\\n]*".r
      .findAllIn(plan).mkString

  test("10x fixture: scale-invariant plan properties hold — no " +
      "cartesian, no nested loop, same join count, lineitem never a " +
      "broadcast build side") {
    assume(new java.io.File(bigDir).isDirectory,
      s"$bigDir absent; generate with: runMain graft.tools.ScaleGen")
    // the round-6 TPC-H batch joins the stability set: semi/anti
    // chains (q20/q16), the single-pass ratio (q8), the decorrelated
    // join-backs (q17) — plus the original star + LSH pair
    Seq("star_revenue_by_nation", "dedup_minhash_lsh",
      "q7_nation_volume", "q8_market_share", "q16_part_supplier_counts",
      "q17_small_qty_revenue", "q20_excess_suppliers").foreach { q =>
      val smallPlan = planOf(q, baseDir)
      val bigPlan = planOf(q, bigDir)
      val small = joinProfile(smallPlan)
      val big = joinProfile(bigPlan)
      assert(big("CartesianProduct") == 0,
        s"$q: cartesian product at 10x: $big")
      assert(big("BroadcastNestedLoopJoin") ==
        small("BroadcastNestedLoopJoin"),
        s"$q: a hash join degenerated to a nested loop at 10x: " +
          s"$small -> $big")
      // join COUNT is a property of the query, not the data volume;
      // the broadcast/shuffle split is allowed to move between kinds
      assert(big.values.sum == small.values.sum,
        s"$q: join count drifted sf0.1 -> 10x: $small -> $big")
      assert(!broadcastScans(bigPlan).contains("lineitem"),
        s"$q: lineitem landed on a broadcast build side at 10x")
    }
  }

  test("10x star join: all joins hash-based, lineitem never a build side") {
    assume(new java.io.File(bigDir).isDirectory,
      s"$bigDir absent; generate with: runMain graft.tools.ScaleGen")
    val plan = planOf("star_revenue_by_nation", bigDir)
    val p = joinProfile(plan)
    // nation/region are hinted (fixed 25/5 rows — broadcast at any
    // scale); customer and orders are size-chosen: each may legally be
    // EITHER a broadcast (fits the threshold at this scale) or a
    // shuffle join (outgrew it). What must NEVER happen: a
    // nested-loop/cartesian, or the fact side being chosen as a
    // broadcast build side.
    assert(p("BroadcastHashJoin") >= 2, s"lost a fixed-dim broadcast: $p")
    assert(p("BroadcastHashJoin") + p("SortMergeJoin") +
      p("ShuffledHashJoin") == 4, s"expected 4 hash-based joins: $p")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"degenerate join: $p")
    // lineitem is the streamed side everywhere: no BroadcastExchange
    // subtree may scan the lineitem files
    assert(!broadcastScans(plan).contains("lineitem"),
      "lineitem landed on a broadcast build side")
  }

  test("star join broadcasts are chosen by SIZE, not forced by hint: " +
    "with the threshold disabled only the hinted fixed dims broadcast") {
    // a broadcast() hint is mandatory at any size — so if customer /
    // orders were still hinted, disabling autoBroadcastJoinThreshold
    // would change nothing. The SF-growing sides degrading to shuffle
    // joins is the proof the planner (not a hint) picks their strategy;
    // nation/region stay broadcast BECAUSE they are hinted fixed dims.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = joinProfile(planOf("star_revenue_by_nation", baseDir))
      assert(p("BroadcastHashJoin") == 2,
        s"exactly the two hinted fixed dims must broadcast: $p")
      assert(p("SortMergeJoin") + p("ShuffledHashJoin") == 2,
        s"customer and orders must degrade to shuffle joins: $p")
    } finally spark.conf.set(key, prev)
  }

  test("10x manifest pruning: a point lookup against a 10x snapshot " +
      "opens a file count governed by MATCHES, not table size") {
    assume(new java.io.File(bigDir).isDirectory,
      s"$bigDir absent; generate with: runMain graft.tools.ScaleGen")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft-scale-pr")
      .toString + "/orders10x"
    val o = Tables.load(spark, bigDir, "orders")
    // 10x orders over 32 clustered files: the lookup's file cost must
    // track the requested key range, not the 10x row count
    SnapshotTable.commit(spark, root, o,
      clusterKey = Some("o_orderkey"), files = 32,
      bloomKey = Some("o_custkey"))
    val total = SnapshotTable.manifest(spark, root, 1L).size
    assert(total >= 16, s"expected a wide file grid, got $total")
    val byKey = SnapshotTable.readKeys(spark, root, "o_orderkey",
      Seq(1000L, 2000L, 3000L).toDF("o_orderkey"))
    assert(plannedFiles(byKey).length <= 3,
      s"3 clustered keys opened ${plannedFiles(byKey).length} of $total")
    val byBloom = SnapshotTable.readKeys(spark, root, "o_custkey",
      o.filter(col("o_custkey") === 77).select("o_custkey").limit(1))
    assert(plannedFiles(byBloom).length < total,
      s"bloom lookup opened ${plannedFiles(byBloom).length} of $total")
  }

  test("10x storage-partitioned join: co-bucketed fact and dim still " +
      "join with ZERO exchange — the layout, not the data size, " +
      "carries the property") {
    assume(new java.io.File(bigDir).isDirectory,
      s"$bigDir absent; generate with: runMain graft.tools.ScaleGen")
    import org.apache.spark.sql.functions.col
    import graft.sources.SnapshotTable
    val wh = java.nio.file.Files.createTempDirectory("graft-scale-spj")
      .toString
    spark.conf.set("spark.sql.catalog.gscale",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gscale.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gscale.db")
    val o = Tables.load(spark, bigDir, "orders")
      .select("o_custkey", "o_totalprice")
    val c = Tables.load(spark, bigDir, "customer")
      .select("c_custkey", "c_mktsegment")
    // 10x fact (~150k orders), 10x dim (~15k customers), 16 buckets
    SnapshotTable.commitBucketed(spark, s"$wh/db/ord10",
      o, "o_custkey", 16)
    SnapshotTable.commitBucketed(spark, s"$wh/db/cust10",
      c, "c_custkey", 16)
    val prev = spark.conf
      .getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevB = spark.conf
      .getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("gscale.db.ord10")
        .join(spark.table("gscale.db.cust10"),
          col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"SPJ shuffled at 10x:\n${plan.take(2500)}")
      assert(j.count() == o.count())
    } finally {
      prev.fold(spark.conf.unset(
        "spark.sql.sources.v2.bucketing.enabled"))(v =>
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
      prevB.fold(spark.conf.unset(
        "spark.sql.autoBroadcastJoinThreshold"))(v =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
    }
  }
}
