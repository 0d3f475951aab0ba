package graft

import org.apache.spark.sql.functions._

/** Relative-error quantile sketch (graft.functions.QuantileAggregates,
  * the DDSketch family): the guarantees the Scaladoc states, pinned —
  * every quantile estimate within alpha relative error of the exact
  * rank value, bit-determinism under re-partitioning (bucket addition
  * commutes), the union face equal to the direct sketch, and sign
  * handling across negative/zero/positive stores. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  private lazy val prices = Tables.load(spark, sfDir, "lineitem")
    .selectExpr("CAST(l_extendedprice AS DOUBLE) AS x")

  private def exactQuantile(sorted: Array[Double], q: Double): Double =
    sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1))

  test("every estimate sits within the declared relative error of the " +
      "exact rank value, at alpha = 1% and 5%") {
    val sorted = prices.as[Double].collect().sorted
    for (alphaPct <- Seq(1, 5); q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75,
        0.9, 0.99, 1.0)) {
      val est = prices
        .agg(expr(s"graft_qsketch_quantile(graft_qsketch(x, $alphaPct), " +
          s"CAST($q AS DOUBLE))"))
        .collect()(0).getDouble(0)
      val exact = exactQuantile(sorted, q)
      val relErr = math.abs(est - exact) / exact
      assert(relErr <= alphaPct / 100.0 + 1e-9,
        s"alpha=$alphaPct% q=$q: est $est vs exact $exact (rel $relErr)")
    }
  }

  test("deterministic under re-partitioning: bucket addition commutes") {
    def sketch(parts: Int): Array[Byte] =
      prices.repartition(parts)
        .agg(expr("graft_qsketch(x, 2)"))
        .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sketch(3), sketch(17)),
      "sketch bytes must be partition-invariant")
  }

  test("union of per-group sketches is bit-equal to the direct global " +
      "sketch — the day-rollup mergeability face") {
    val withFlag = Tables.load(spark, sfDir, "lineitem")
      .selectExpr("l_returnflag", "CAST(l_extendedprice AS DOUBLE) AS x")
    val unioned = withFlag
      .groupBy("l_returnflag").agg(expr("graft_qsketch(x, 1)").as("sk"))
      .agg(expr("graft_qsketch_union(sk)"))
      .collect()(0).getAs[Array[Byte]](0)
    val direct = withFlag.agg(expr("graft_qsketch(x, 1)"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(unioned, direct),
      "two-level union must equal the one-pass sketch, byte for byte")
  }

  test("negative, zero and positive values estimate with correct sign " +
      "and relative error on |x|") {
    val xs = Seq(-1000.0, -100.0, -10.0, 0.0, 0.0, 10.0, 100.0, 1000.0,
      10000.0)
    val df = xs.toDF("x")
    def est(q: Double): Double = df
      .agg(expr(s"graft_qsketch_quantile(graft_qsketch(x, 1), " +
        s"CAST($q AS DOUBLE))"))
      .collect()(0).getDouble(0)
    // ranks (ceil(q*9)): q=.12→2nd (-100), q=.5→5th (0), q=1→9th (10000)
    assert(math.abs(est(0.12) - (-100.0)) <= 1.0 + 1e-9)
    assert(est(0.5) == 0.0)
    assert(math.abs(est(1.0) - 10000.0) <= 100.0 + 1e-9)
    // empty input: NaN, not a crash
    val empty = df.filter(col("x") > 1e9)
      .agg(expr("graft_qsketch_quantile(graft_qsketch(x, 1), " +
        "CAST(0.5 AS DOUBLE))"))
      .collect()(0).getDouble(0)
    assert(empty.isNaN)
  }

  test("streaming windowed sketches persisted to a snapshot table " +
      "union to the BIT-SAME sketch a batch pass over the raw events " +
      "builds — the compute-per-window, query-any-range rollup") {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-qroll")
      .toString + "/w"
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val agg = stream.toDF().toDF("ts", "x")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("graft_qsketch(x, 2)").as("sk"), count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("sk"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          SnapshotTable.append(spark, root, batch)
        ()
      }.start()
    val hourXs = Seq(
      ts("2024-01-01 10:05:00") -> 5.0,
      ts("2024-01-01 10:25:00") -> 50.0,
      ts("2024-01-01 10:55:00") -> 500.0,
      ts("2024-01-01 11:05:00") -> 7.0,
      ts("2024-01-01 11:35:00") -> 70.0,
      ts("2024-01-01 11:45:00") -> 700.0)
    try {
      stream.addData(hourXs: _*)
      q.processAllAvailable()
      // push the watermark past both windows so append mode flushes
      stream.addData(ts("2024-01-01 13:30:00") -> 1.0)
      q.processAllAvailable()
    } finally q.stop()
    val persisted = SnapshotTable.read(spark, root)
      .filter(col("ws") < ts("2024-01-01 12:00:00"))
    assert(persisted.count() == 2, "both closed windows must persist")
    val unioned = persisted.agg(expr("graft_qsketch_union(sk)"))
      .collect()(0).getAs[Array[Byte]](0)
    val direct = hourXs.map(_._2).toDF("x")
      .agg(expr("graft_qsketch(x, 2)"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(unioned, direct),
      "window-sketch union must equal the batch sketch byte-for-byte")
    val p50 = persisted.agg(expr("graft_qsketch_union(sk)").as("sk"))
      .selectExpr("graft_qsketch_quantile(sk, CAST(0.5 AS DOUBLE))")
      .collect()(0).getDouble(0)
    // exact rank-3 of the 6 values is 50; alpha=2% relative error
    assert(math.abs(p50 - 50.0) <= 1.1, s"range-rollup p50 $p50")
  }

  test("NaN inputs are ignored like NULL: they order nowhere, so " +
      "counting them anywhere would shift every rank") {
    val df = Seq(1.0, Double.NaN, 3.0, Double.NaN).toDF("x")
    def est(q: Double): Double = df
      .agg(expr(s"graft_qsketch_quantile(graft_qsketch(x, 1), " +
        s"CAST($q AS DOUBLE))"))
      .collect()(0).getDouble(0)
    // two live values: rank ceil(0.5*2)=1 -> 1.0, rank ceil(1*2)=2 -> 3.0
    assert(math.abs(est(0.5) - 1.0) <= 0.011)
    assert(math.abs(est(1.0) - 3.0) <= 0.031)
  }

  test("the bucket cap terminates on the adversarial shape (huge " +
      "positive span + a single negative bucket) and keeps every " +
      "count") {
    import graft.functions.QSketch
    val g = QSketch.gammaFor(1)
    val b = new QSketch.Buf(1)
    b.add(-5.0, g) // one-bucket negative store: the old collapse spun
    // gamma^(i-0.5) lands exactly in bucket i: 4200 distinct positive
    // buckets, overflowing MaxBuckets with neg.size == 1
    (1 to 4200).foreach(i => b.add(math.pow(g, i - 0.5), g))
    assert(b.total == 4201L, "collapse must preserve counts")
    assert(b.pos.size + b.neg.size <= QSketch.MaxBuckets,
      "cap must hold after collapse")
    // tail resolution degrades, order does not: p99 ~ the top decile
    assert(b.quantile(0.99) > b.quantile(0.5))
  }

  test("the sketch_price_quantiles query returns a full profile: every " +
      "return flag plus the unioned ALL row, p50 <= p90 <= p99") {
    val rows = graft.operators.Relational
      .queries("sketch_price_quantiles")(spark, sfDir)
      .select("l_returnflag", "n", "p50", "p90", "p99")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).contains("ALL"))
    assert(rows.length >= 3)
    rows.foreach { case (flag, n, p50, p90, p99) =>
      assert(n > 0 && p50 <= p90 && p90 <= p99,
        s"$flag: n=$n p50=$p50 p90=$p90 p99=$p99")
    }
    val all = rows.find(_._1 == "ALL").get
    assert(all._2 == rows.filterNot(_._1 == "ALL").map(_._2).sum,
      "ALL row must count every flag's rows")
  }
}
