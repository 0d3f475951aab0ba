package graft

import org.apache.spark.sql.functions._

/** Count-Min sketch + bottom-k distinct sample
  * (graft.functions.CmsAggregates): the guarantees the Scaladoc
  * states, pinned — CMS never underestimates and is deterministic
  * under re-partitioning; bottom-k is partition-invariant, prefix-
  * monotone in k, and exact when k covers the distinct set. */
class CmsSketchSpec extends SparkSpec {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  private lazy val terms = Tables.load(spark, sfDir, "documents")
    .selectExpr("explode(split(text, ' ')) AS term")

  test("CMS estimates never undercount, and a wide sketch over a small " +
      "vocabulary is exact") {
    val sk = terms.agg(expr("graft_cms_sketch(term, 4, 8192)").as("sk"))
    val got = terms.groupBy("term").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(sk))
      .selectExpr("term", "n", "graft_cms_est(sk, term) AS est")
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("n"),
        s"CMS undercounted ${r.getAs[String]("term")}")
    }
    // vocabulary ≪ width: the chance a term collides in ALL 4 rows is
    // negligible, and this fixture is fixed — assert exactness to
    // catch any addressing bug between builder and estimator
    assert(got.forall(r => r.getAs[Long]("est") == r.getAs[Long]("n")),
      "wide sketch must be exact on the fixture vocabulary")
  }

  test("CMS is deterministic under re-partitioning: partial-merge " +
      "order cannot change the sketch") {
    def sketch(parts: Int): Array[Byte] =
      terms.repartition(parts)
        .agg(expr("graft_cms_sketch(term, 4, 512)").as("sk"))
        .collect()(0).getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(sketch(1), sketch(13)),
      "cell sums commute — any difference is a merge bug")
  }

  test("a narrow CMS still bounds error: estimates exceed truth by at " +
      "most the n/width envelope on the fixture") {
    val width = 64
    val sk = terms.agg(
      expr(s"graft_cms_sketch(term, 4, $width)").as("sk"))
    val total = terms.count()
    val rows = terms.groupBy("term").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(sk))
      .selectExpr("n", "graft_cms_est(sk, term) AS est")
      .collect()
    val overs = rows.map(r => r.getAs[Long]("est") - r.getAs[Long]("n"))
    assert(overs.forall(_ >= 0L), "CMS must never undercount")
    // the 2n/width envelope holds per item with probability
    // 1-(1/2)^depth = 15/16, NOT surely — so pin the breach RATE
    // (expected 6.25%, asserted under 15% for slack) plus a generous
    // hard ceiling that any addressing bug would blow through
    val bound = 2 * total / width
    val breaches = overs.count(_ > bound)
    assert(breaches <= math.max(1, rows.length * 15 / 100),
      s"$breaches of ${rows.length} items breach 2n/w=$bound — " +
        "far above the (1/2)^depth envelope")
    assert(overs.max <= 8 * total / width,
      s"max overestimate ${overs.max} is out of any plausible envelope")
  }

  test("bottom-k equals the exact distinct set when k covers it, " +
      "independent of partitioning") {
    val docs = Tables.load(spark, sfDir, "documents")
    def sample(parts: Int): Seq[String] =
      docs.repartition(parts)
        .agg(expr("graft_bottomk(source, 100000)").as("s"))
        .collect()(0).getSeq[String](0)
    val exact = docs.select("source").distinct()
      .as[String].collect().toSet
    val s1 = sample(1)
    assert(s1.toSet == exact, "k >= NDV must return every distinct value")
    assert(s1 == sample(17),
      "bottom-k must not depend on partitioning")
  }

  test("bottom-k(k) is a prefix of bottom-k(2k) — min-wise sampling " +
      "is monotone in k") {
    val docs = Tables.load(spark, sfDir, "documents")
    def sample(k: Int): Seq[Long] =
      docs.agg(expr(s"graft_bottomk(doc_id, $k)").as("s"))
        .collect()(0).getSeq[Long](0)
    val small = sample(10)
    val big = sample(20)
    assert(small.size == 10 && big.size == 20)
    assert(big.take(10) == small,
      "growing k may only extend the sample, never change its head")
  }

  test("the two sketch queries run and keep their guarantees at the " +
      "query surface") {
    val cms = graft.operators.TextAnalysis
      .queries("sketch_term_freq_cms")(spark, sfDir).collect()
    assert(cms.length == 10)
    assert(cms.forall(_.getAs[Boolean]("never_under")))
    val bk = graft.operators.TextAnalysis
      .queries("sketch_bottomk_sample")(spark, sfDir).collect()
    assert(bk.nonEmpty)
    bk.foreach { r =>
      // scalar string columns (driver rows-only checks sort every
      // column, so the query surface must not expose arrays)
      assert(r.getString(1).nonEmpty && r.getString(2).nonEmpty)
      assert(r.getString(2).split(",").forall(_.matches("-?\\d+")))
    }
  }
}
