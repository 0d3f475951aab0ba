package graft

import graft.functions.Hll
import graft.operators.Temporal
import org.apache.spark.sql.functions._

class HllSpec extends SparkSpec {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  test("tiny cardinalities are exact via linear counting") {
    val est = Seq("a", "b", "c", "a", "b").toDF("v")
      .agg(expr("graft_hll(v)")).as[Long].collect()(0)
    assert(est == 3L)
  }

  test("estimate within error bounds vs exact distinct (p=12 => ~1.6%)") {
    val ev = Tables.load(spark, sfDir, "events")
    val both = ev.agg(
      expr("graft_hll(user_id)").as("est"),
      countDistinct(col("user_id")).as("exact")).collect()(0)
    val est = both.getAs[Long]("est").toDouble
    val exact = both.getAs[Long]("exact").toDouble
    assert(math.abs(est - exact) / exact < 0.05,
      s"est $est vs exact $exact")
  }

  test("precision argument: smaller sketch, looser but sane bound") {
    val ev = Tables.load(spark, sfDir, "events")
    val both = ev.agg(
      expr("graft_hll(user_id, 8)").as("est"),
      countDistinct(col("user_id")).as("exact")).collect()(0)
    val est = both.getAs[Long]("est").toDouble
    val exact = both.getAs[Long]("exact").toDouble
    // p=8 => 256 registers => ~6.5% expected, allow 3 sigma
    assert(math.abs(est - exact) / exact < 0.2, s"est $est vs exact $exact")
  }

  test("union of per-day sketches equals the direct estimate exactly") {
    val ev = Tables.load(spark, sfDir, "events")
    val direct = ev.groupBy(col("event_type"))
      .agg(expr("graft_hll(user_id)").as("est"))
      .select("event_type", "est").as[(String, Long)].collect().toMap
    val rolled = Temporal.queries("events_hll_daily_rollup")(spark, sfDir)
      .select("event_type", "est_users").as[(String, Long)].collect().toMap
    // register max is associative/commutative: merging day-sketches must
    // reproduce the single-pass registers bit-for-bit
    assert(rolled == direct)
  }

  test("union adopts the sketch precision without repeating the p arg") {
    val est = Seq(("a", "x"), ("a", "y"), ("b", "z"))
      .toDF("g", "v")
      .groupBy("g").agg(expr("graft_hll_sketch(v, 8)").as("sk"))
      .agg(expr("graft_hll_union(sk)").as("est")) // default p=12 buffer
      .as[Long].collect()(0)
    assert(est == 3L)
  }

  test("persisted sketches: parquet round trip, then union in a second " +
      "job — never re-reads raw data") {
    // the 100 TB daily-rollup contract end-to-end: job 1 writes one
    // BINARY sketch per (event_type, day) partition; job 2 reads ONLY
    // the 4 KB sketches back and unions them. The estimate must equal
    // the single-pass direct aggregate bit-for-bit (register max is
    // associative/commutative and parquet stores the registers intact).
    val tmp = java.nio.file.Files.createTempDirectory("graft-hll").toString
    val ev = Tables.load(spark, sfDir, "events")
    ev.groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(expr("graft_hll_sketch(user_id)").as("day_sketch"))
      .write.mode("overwrite").parquet(tmp)
    val rolled = spark.read.parquet(tmp)
      .groupBy("event_type")
      .agg(expr("graft_hll_union(day_sketch)").as("est"))
      .as[(String, Long)].collect().toMap
    val direct = ev.groupBy(col("event_type"))
      .agg(expr("graft_hll(user_id)").as("est"))
      .as[(String, Long)].collect().toMap
    assert(rolled == direct)
  }

  test("register-level algebra: merge is max, estimate monotone-safe") {
    val a = new Array[Byte](1 << 12)
    val b = new Array[Byte](1 << 12)
    (0 until 1000).foreach(i => Hll.add(a, Splitmix(i)))
    (500 until 1500).foreach(i => Hll.add(b, Splitmix(i)))
    val ea = Hll.estimate(a)
    val merged = Hll.merge(a.clone(), b)
    val em = Hll.estimate(merged)
    assert(em >= ea) // union can only grow
    assert(math.abs(em - 1500.0) / 1500.0 < 0.05, s"union est $em")
  }

  private def Splitmix(i: Int): Long =
    graft.functions.Splitmix.mix(i.toLong * 0x9e3779b97f4a7c15L)

  test("topk sketch, exact regime: equals the full GROUP BY") {
    val terms = Tables.load(spark, sfDir, "documents")
      .selectExpr("explode(split(text, ' ')) AS term")
    val exact = terms.groupBy("term").count()
      .as[(String, Long)].collect().toMap
    val sk = terms.agg(expr("graft_topk(term, 64)").as("tk"))
      .selectExpr("inline(tk)")
      .as[(String, Long)].collect().toMap
    assert(sk == exact)
  }

  test("topk sketch, true sketch regime (k=5): MG guarantees hold") {
    val terms = Tables.load(spark, sfDir, "documents")
      .selectExpr("explode(split(text, ' ')) AS term")
    val exact = terms.groupBy("term").count()
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val sk = terms.agg(expr("graft_topk(term, 5)").as("tk"))
      .selectExpr("inline(tk)")
      .as[(String, Long)].collect().toMap
    assert(sk.size <= 5)
    sk.foreach { case (t, est) =>
      assert(est <= exact(t), s"$t overestimated")
      assert(exact(t) - est <= n / 6 + 1, s"$t undercount beyond bound")
    }
    // every item above the n/(k+1) frequency bar must be present
    exact.filter(_._2 > n / 6).keys.foreach(t =>
      assert(sk.contains(t), s"heavy hitter $t missing"))
  }

  test("hll works as a streaming aggregate (complete mode)") {
    implicit val sc = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val agg = stream.toDF()
      .groupBy()
      .agg(expr("graft_hll(value)").as("est"))
    val q = agg.writeStream.format("memory").queryName("sink_hll")
      .outputMode("complete").start()
    try {
      stream.addData("a", "b", "c", "a")
      q.processAllAvailable()
      stream.addData("c", "d")
      q.processAllAvailable()
      val est = spark.table("sink_hll").as[Long].collect()(0)
      assert(est == 4L) // tiny range => linear counting is exact
    } finally q.stop()
  }
}
