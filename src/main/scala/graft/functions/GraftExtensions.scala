package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session-extension registration of the graft native functions — the
  * deployment path for clusters: either
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * It injects [[GraftFunctions.all]] and [[graft.plans.GraftRules.all]],
  * so every session of the application, including pure-SQL users, sees
  * the same functions and rules that [[GraftFunctions.register]] adds
  * to a live session. Exercised end-to-end by `graft.Smoke` (fresh JVM,
  * fresh session built with these extensions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(e.injectFunction)
    graft.plans.GraftRules.all.foreach(r => e.injectOptimizerRule(_ => r))
  }
}

/** Every graft SQL function, declared once as (name, usage, builder).
  * [[GraftExtensions]] injects the list at session build time;
  * [[register]] adds it to a session built without the extensions
  * (the per-query entry points and the driver's Verify/Bench mains). */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(s"$what must be an int literal")
  }

  private def precisionOf(exprs: Seq[Expression]): Int =
    if (exprs.length >= 2) intLit(exprs(1), "precision")
    else Hll.DefaultPrecision

  private def fn(name: String, usage: String, builder: FunctionBuilder)
  : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", null, name, usage,
        "", "", "", "", "", "", "built-in"),
      builder)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    // vectors
    fn("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two ARRAY<DOUBLE>",
      exprs => CosineSim(exprs(0), exprs(1))),
    fn("graft_dot",
      "graft_dot(a, b) - dot product of two ARRAY<DOUBLE>",
      exprs => DotProduct(exprs(0), exprs(1))),
    fn("graft_rotate",
      "graft_rotate(v, rot) - v times the row-major matrix rot",
      exprs => VecRotate(exprs(0), exprs(1))),
    fn("graft_nearest",
      "graft_nearest(v, centroids) - index of the nearest centroid",
      exprs => NearestCentroid(exprs(0), exprs(1))),
    fn("graft_sq8_encode",
      "graft_sq8_encode(v, lo, hi) - 8-bit scalar-quantized codes",
      exprs => Sq8Encode(exprs(0), exprs(1), exprs(2))),
    fn("graft_sq8_adc",
      "graft_sq8_adc(q, code, lo, hi) - cosine of q and a decoded code",
      exprs => Sq8AdcCos(exprs(0), exprs(1), exprs(2), exprs(3))),
    // text sketches and similarity
    fn("graft_minhash",
      "graft_minhash(tokens, perms, ngram) - MinHash signature",
      exprs => TokenMinHash(exprs(0),
        intLit(exprs(1), "perms"), intLit(exprs(2), "ngram"))),
    fn("graft_simhash",
      "graft_simhash(tokens) - 64-bit SimHash",
      exprs => SimHash64(exprs(0))),
    fn("graft_hplsh",
      "graft_hplsh(v, tables, bits) - hyperplane LSH bucket ids",
      exprs => HyperplaneLsh(exprs(0),
        intLit(exprs(1), "tables"), intLit(exprs(2), "bits"))),
    fn("graft_jaccard",
      "graft_jaccard(a, b) - exact token-set Jaccard, no temp arrays",
      exprs => JaccardSim(exprs(0), exprs(1))),
    fn("graft_jaccard_sorted",
      "graft_jaccard_sorted(a, b) - Jaccard over sorted ARRAY<BIGINT>",
      exprs => JaccardSortedLong(exprs(0), exprs(1))),
    fn("graft_bpe_count",
      "graft_bpe_count(text, chunkLen) - BPE-ish subword chunk count",
      exprs => BpeChunkCount(exprs(0), intLit(exprs(1), "chunkLen"))),
    fn("graft_shingles",
      "graft_shingles(tokens, n) - one row per token n-gram",
      exprs => ShingleRows(exprs(0), intLit(exprs(1), "n"))),
    fn("graft_lrs",
      "graft_lrs(text) - longest repeated substring",
      exprs => LongestRepeatedSubstring(exprs(0))),
    fn("graft_porter",
      "graft_porter(word) - Porter stem",
      exprs => PorterStemExpr(exprs(0))),
    // distinct counts and heavy hitters
    fn("graft_hll",
      "graft_hll(col[, p]) - HyperLogLog distinct estimate",
      exprs => HllCardinality(exprs.head, precisionOf(exprs))),
    fn("graft_hll_sketch",
      "graft_hll_sketch(col[, p]) - persistable HLL registers",
      exprs => HllSketchAgg(exprs.head, precisionOf(exprs))),
    fn("graft_hll_union",
      "graft_hll_union(sketch[, p]) - estimate over unioned sketches",
      exprs => HllUnionAgg(exprs.head, precisionOf(exprs),
        precisionExplicit = exprs.length >= 2)),
    fn("graft_hll_merge",
      "graft_hll_merge(a, b) - register-wise max of two HLL sketches",
      exprs => HllMergeScalar(exprs(0), exprs(1))),
    fn("graft_hll_estimate",
      "graft_hll_estimate(sketch) - distinct estimate of one HLL sketch",
      exprs => HllEstimateScalar(exprs.head)),
    fn("graft_topk",
      "graft_topk(col, k) - Misra-Gries heavy hitters",
      exprs => MisraGriesTopK(exprs.head, intLit(exprs(1), "k"))),
    // membership, frequency and samples
    fn("graft_bloom_sketch",
      "graft_bloom_sketch(col, expectedItems, fpp_pct) - bloom filter",
      exprs => BloomSketchAgg(exprs.head,
        intLit(exprs(1), "expectedItems"), intLit(exprs(2), "fpp_pct"))),
    fn("graft_bloom_contains",
      "graft_bloom_contains(bloom, item) - bloom membership probe",
      exprs => BloomMightContain(exprs(0), exprs(1))),
    fn("graft_cms_sketch",
      "graft_cms_sketch(col, depth, width) - Count-Min frequency sketch",
      exprs => CmsSketchAgg(exprs.head,
        intLit(exprs(1), "depth"), intLit(exprs(2), "width"))),
    fn("graft_cms_est",
      "graft_cms_est(sketch, item) - Count-Min point estimate",
      exprs => CmsEstimate(exprs(0), exprs(1))),
    fn("graft_bottomk",
      "graft_bottomk(col, k) - deterministic min-wise distinct sample",
      exprs => BottomKAgg(exprs.head, intLit(exprs(1), "k"))),
    // quantiles
    fn("graft_qsketch",
      "graft_qsketch(col, alpha_pct) - relative-error quantile sketch",
      exprs => QSketchAgg(exprs.head, intLit(exprs(1), "alpha_pct"))),
    fn("graft_qsketch_union",
      "graft_qsketch_union(sketch) - union of quantile sketches",
      exprs => QSketchUnionAgg(exprs.head)),
    fn("graft_qsketch_quantile",
      "graft_qsketch_quantile(sketch, q) - quantile q of a sketch",
      exprs => QSketchQuantile(exprs(0), exprs(1))))

  /** Register every graft function the session lacks, and attach the
    * engine's optimizer rules. Idempotent: a name already present is
    * left alone, so repeat calls neither write the registry nor log
    * Spark's "replaced a previously registered function" warning. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    graft.plans.GraftRules.attach(spark)
  }
}
