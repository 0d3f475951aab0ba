package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilarityRewriteSpec extends SparkSpec {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark) // attaches the rewrite rule

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private val toksDf = Seq(
    (Seq("a", "b", "c"), Seq("b", "c", "d")),
    (Seq("x"), Seq("x")),
    (Seq("p", "q"), Seq("r", "s"))).toDF("l", "r")

  private val vecDf = Seq(
    (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (Seq(0.5, -1.5), Seq(2.0, 2.0))).toDF("l", "r")

  // NOTE plan assertions run on parquet-backed frames: local Seq frames
  // collapse to LocalRelation in the main optimizer batch, hiding the
  // rewritten expressions from optimizedPlan. Value assertions use the
  // small local frames (rewritten or not, results must be identical).

  private def docToks = Tables.load(spark, sfDir, "documents").limit(10)
    .selectExpr("doc_id", "array_distinct(split(text, ' ')) AS toks")

  test("jaccard HOF formulation rewrites to graft_jaccard, same values") {
    val a = docToks.select(col("doc_id").as("a_id"), col("toks").as("a"))
    val b = docToks.select(col("doc_id").as("b_id"), col("toks").as("b"))
    val onDisk = a.join(b, col("a_id") < col("b_id")).selectExpr(
      "CAST(size(array_intersect(a, b)) AS DOUBLE)" +
        " / size(array_union(a, b)) AS j")
    assert(optimized(onDisk).contains("graft_jaccard"))
    val df = toksDf.selectExpr(
      "CAST(size(array_intersect(l, r)) AS DOUBLE)" +
        " / size(array_union(l, r)) AS j")
    assert(df.as[Double].collect().toSeq == Seq(0.5, 1.0, 0.0))
  }

  test("rewrite copies the Divide's eval mode: ANSI form throws on an " +
      "empty union, try_divide stays NULL") {
    // session is ANSI (Spark 4 default); parquet-backed so the rewrite
    // actually fires before execution
    val empty = docToks
      .selectExpr("filter(toks, t -> false) AS a",
        "filter(toks, t -> false) AS b").limit(1)
    val ansiForm = empty.selectExpr(
      "CAST(size(array_intersect(a, b)) AS DOUBLE)" +
        " / size(array_union(a, b)) AS j")
    assert(optimized(ansiForm).contains("graft_jaccard"))
    val ex = intercept[Exception] { ansiForm.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(_.isInstanceOf[ArithmeticException]),
      s"ANSI empty-union must throw, got $ex")
    // the reflective construction must yield Spark's own error class
    // (condition DIVIDE_BY_ZERO for SparkThrowable-matching handlers),
    // not the plain-ArithmeticException fallback
    assert(chain(ex).exists(_.getClass.getName ==
      "org.apache.spark.SparkArithmeticException"),
      s"expected SparkArithmeticException in ${chain(ex).map(_.getClass)}")
    val tryForm = empty.selectExpr(
      "try_divide(CAST(size(array_intersect(a, b)) AS DOUBLE), " +
        "size(array_union(a, b))) AS j")
    assert(optimized(tryForm).contains("graft_jaccard"),
      s"try_divide shape must still rewrite:\n${optimized(tryForm)}")
    assert(tryForm.collect()(0).isNullAt(0),
      "try_divide semantics must survive the rewrite")
  }

  test("zip_with dot product rewrites to graft_dot, same values") {
    val e = Tables.load(spark, sfDir, "embeddings").limit(5)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val onDisk = e.selectExpr(
      "aggregate(zip_with(v, v, (x, y) -> x*y), CAST(0 AS DOUBLE), " +
        "(acc, x) -> acc + x) AS d")
    assert(optimized(onDisk).contains("graft_dot"))
    val df = vecDf.selectExpr(
      "aggregate(zip_with(l, r, (x, y) -> x*y), CAST(0 AS DOUBLE), " +
        "(acc, x) -> acc + x) AS d")
    assert(df.as[Double].collect().toSeq == Seq(32.0, -2.0))
  }

  test("sum-of-squares norm rewrites to graft_dot(v, v), same values") {
    val e = Tables.load(spark, sfDir, "embeddings").limit(5)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val onDisk = e.selectExpr(
      "aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x*x) AS n2")
    assert(optimized(onDisk).contains("graft_dot"))
    val df = vecDf.selectExpr(
      "aggregate(l, CAST(0 AS DOUBLE), (acc, x) -> acc + x*x) AS n2")
    assert(df.as[Double].collect().toSeq == Seq(14.0, 2.5))
  }

  test("non-matching aggregates are left alone") {
    val sum = vecDf.selectExpr(
      "aggregate(l, CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS s")
    assert(!optimized(sum).contains("graft_dot"))
    val maxAgg = vecDf.selectExpr(
      "aggregate(zip_with(l, r, (x, y) -> x*y), CAST(0 AS DOUBLE), " +
        "(acc, x) -> greatest(acc, x)) AS m")
    assert(!optimized(maxAgg).contains("graft_dot"))
    // int arrays must not rewrite (graft_jaccard is ARRAY<STRING> only)
    val ints = Seq((Seq(1, 2), Seq(2, 3))).toDF("l", "r").selectExpr(
      "CAST(size(array_intersect(l, r)) AS DOUBLE)" +
        " / size(array_union(l, r)) AS j")
    assert(!optimized(ints).contains("graft_jaccard"))
  }

  test("rewrite preserves the oracle-proven knn dot bit-for-bit") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.load(spark, sfDir, "embeddings")
      .limit(50)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
    val joined = a.join(b, col("a_id") < col("b_id"))
    val hof = joined.selectExpr("a_id", "b_id",
      "aggregate(zip_with(a_v, b_v, (x, y) -> x*y), CAST(0 AS DOUBLE), " +
        "(acc, x) -> acc + x) AS d")
    val native = joined.selectExpr("a_id", "b_id",
      "graft_dot(a_v, b_v) AS d")
    assert(optimized(hof).contains("graft_dot"))
    val l = hof.orderBy("a_id", "b_id").as[(Long, Long, Double)].collect()
    val r = native.orderBy("a_id", "b_id").as[(Long, Long, Double)].collect()
    assert(l.sameElements(r))
  }
}
