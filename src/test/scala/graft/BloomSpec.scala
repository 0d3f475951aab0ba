package graft

import org.apache.spark.sql.functions._

/** Bloom membership sketch (graft.functions.BloomAggregates): the
  * guarantees the Scaladoc states, pinned — no false negatives ever
  * (the property file pruning is built on), a bounded false-positive
  * rate at the declared geometry, and determinism under
  * re-partitioning (OR-merge commutes). */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  private lazy val terms = Tables.load(spark, sfDir, "documents")
    .selectExpr("explode(split(text, ' ')) AS term")

  test("no false negatives: every inserted term probes true") {
    val sk = terms.agg(expr("graft_bloom_sketch(term, 50000, 2)").as("sk"))
    val missed = terms.distinct()
      .crossJoin(broadcast(sk))
      .filter(!expr("graft_bloom_contains(sk, term)"))
      .count()
    assert(missed == 0L, s"$missed inserted terms probed false")
  }

  test("false-positive rate is bounded near the declared geometry") {
    val sk = terms.agg(expr("graft_bloom_sketch(term, 50000, 2)").as("sk"))
    // probe values that were NEVER inserted (a disjoint namespace)
    val absent = (1 to 20000).map(i => s"__absent_$i").toDF("term")
    val fps = absent.crossJoin(broadcast(sk))
      .filter(expr("graft_bloom_contains(sk, term)"))
      .count()
    // declared 2% at 50k expected items; the fixture vocabulary is far
    // smaller, so the realized rate must sit well under the target —
    // 4% is a generous ceiling that still catches a broken geometry
    assert(fps <= 20000 * 0.04,
      s"$fps of 20000 absent probes hit (expected ~<2%)")
  }

  test("deterministic under re-partitioning: OR-merge order cannot " +
      "change the filter") {
    def sketch(parts: Int): Array[Byte] =
      terms.repartition(parts)
        .agg(expr("graft_bloom_sketch(term, 50000, 2)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
    val a = sketch(3)
    val b = sketch(17)
    assert(java.util.Arrays.equals(a, b),
      "bloom bytes must be partition-invariant")
  }

  test("folding is exact: the folded filter is bit-identical to one " +
      "built directly at the half geometry") {
    import graft.functions.{Bloom, Hll}
    import org.apache.spark.sql.types.LongType
    val hashes = (1L to 500L).map(Hll.hashValue(_, LongType))
    val full = new Array[Long](64) // 4096 bits
    val half = new Array[Long](32)
    hashes.foreach { h =>
      Bloom.add(full, 5, h); Bloom.add(half, 5, h)
    }
    assert(Bloom.foldOnce(full).toSeq == half.toSeq,
      "fold must commute with insertion under mask indexing")
  }

  test("adaptive sizing: a sparse group's filter shrinks to its data, " +
      "a full group keeps the declared geometry, and the declared " +
      "false-positive target survives the shrink") {
    def bytesFor(n: Int): Array[Byte] =
      (1 to n).map(i => s"item_$i").toDF("t")
        .agg(expr("graft_bloom_sketch(t, 50000, 2)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
    val sparse = bytesFor(500)
    val full = bytesFor(50000)
    assert(sparse.length * 8 <= full.length,
      s"500-item filter (${sparse.length} B) should be ≥8x smaller " +
        s"than the 50k-item one (${full.length} B)")
    // no false negatives survive the fold (exactness), and absent
    // probes still hit at ≤ the declared rate
    val skDf = (1 to 500).map(i => s"item_$i").toDF("t")
      .agg(expr("graft_bloom_sketch(t, 50000, 2)").as("sk"))
    val missed = (1 to 500).map(i => s"item_$i").toDF("t")
      .crossJoin(broadcast(skDf))
      .filter(!expr("graft_bloom_contains(sk, t)")).count()
    assert(missed == 0L, s"$missed inserted items probed false after fold")
    val fps = (1 to 20000).map(i => s"__absent_$i").toDF("t")
      .crossJoin(broadcast(skDf))
      .filter(expr("graft_bloom_contains(sk, t)")).count()
    assert(fps <= 20000 * 0.04,
      s"$fps of 20000 absent probes hit after shrink (declared 2%)")
  }

  test("typed probes agree with the driver-side JVM probe used for " +
      "manifest pruning") {
    val ids = (1L to 1000L).toDF("id")
    val sk = ids.agg(expr("graft_bloom_sketch(id, 50000, 2)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    (1L to 1000L).foreach { v =>
      assert(graft.functions.Bloom.mightContainJvm(
        sk, v, org.apache.spark.sql.types.LongType),
        s"driver probe missed inserted id $v")
    }
    val absentHits = (100001L to 110000L).count(v =>
      graft.functions.Bloom.mightContainJvm(
        sk, v, org.apache.spark.sql.types.LongType))
    assert(absentHits <= 400, s"$absentHits of 10000 absent ids hit")
  }
}
