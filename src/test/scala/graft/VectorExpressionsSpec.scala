package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_cosine matches hand-computed values incl. nulls and zeros") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0)),   // identical -> 1
      (Array(1.0, 0.0), Array(0.0, 1.0)),   // orthogonal -> 0
      (Array(1.0, 0.0), Array(-1.0, 0.0)),  // opposite -> -1
      (Array(3.0, 4.0), Array(3.0, 4.0)))
      .toDF("a", "b")
      .selectExpr("graft_cosine(a, b) AS c", "graft_dot(a, b) AS d")
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(0)) < 1e-12)
    assert(math.abs(rows(2).getDouble(0) + 1.0) < 1e-12)
    assert(math.abs(rows(3).getDouble(1) - 25.0) < 1e-12)
    // zero vector -> null, not NaN
    val z = Seq((Array(0.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b) AS c").collect()(0)
    assert(z.isNullAt(0))
  }

  test("native expression participates in whole-stage codegen") {
    graft.functions.GraftFunctions.register(spark)
    // must be a non-local source: a local Seq is constant-folded into a
    // LocalTableScan before any codegen happens
    val df = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("graft_cosine(v, v) AS c")
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen
    // stage; note the higher-order `transform` projection is NOT fused
    // (no `*`) while the graft_cosine projection is — which is the point
    // of having the native expression.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_cosine")), s"plan:\n$plan")
    val self = df.collect()
    assert(self.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("native knn agrees exactly with higher-order-function knn") {
    val hof = Similarity.queries("knn_bruteforce")(spark, sfDir)
      .select("q_id", "rk", "c_id", "cos_r")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val native = Similarity.queries("knn_bruteforce_native")(spark, sfDir)
      .select("q_id", "rk", "c_id", "cos_r")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(hof == native)
  }

  test("graft_rotate ≡ HOF matmul; identity fixed point; shape/null -> NULL") {
    graft.functions.GraftFunctions.register(spark)
    // deterministic pseudo-random vectors + rotation-shaped matrix
    val vecs = (0 until 20).map(i =>
      Tuple1(Array.tabulate(8)(j => math.sin(i * 8 + j + 1))))
      .toDF("v")
    val rot = Seq.tabulate(8, 8)((i, j) => math.cos(i * 8 + j + 1) / 3.0)
    val rdf = Seq(Tuple1(rot.map(_.toSeq))).toDF("rot")
    val both = vecs.crossJoin(broadcast(rdf)).selectExpr(
      "graft_rotate(v, rot) AS fast",
      """transform(sequence(0, size(v) - 1), j ->
        |  aggregate(sequence(0, size(v) - 1), CAST(0 AS DOUBLE),
        |    (acc, i) -> acc + v[i] * rot[i][j])) AS slow""".stripMargin)
      .as[(Seq[Double], Seq[Double])].collect()
    both.foreach { case (fast, slow) =>
      assert(fast.size == slow.size)
      fast.zip(slow).foreach { case (f, g) =>
        // identical loop order => bit-identical accumulation
        assert(f == g, s"fast=$f slow=$g")
      }
    }
    // identity rotation is a fixed point
    val id = Seq.tabulate(8, 8)((i, j) => if (i == j) 1.0 else 0.0)
    val idDf = Seq(Tuple1(id.map(_.toSeq))).toDF("rot")
    vecs.crossJoin(broadcast(idDf))
      .selectExpr("v", "graft_rotate(v, rot) AS r")
      .as[(Seq[Double], Seq[Double])].collect()
      .foreach { case (v, r) => assert(v == r) }
    // shape mismatch (4x4 rot vs 8-dim vec) -> NULL, not a truncated rotate
    val small = Seq(Tuple1(Seq.tabulate(4, 4)((i, j) => 1.0)
      .map(_.toSeq))).toDF("rot")
    val bad = vecs.limit(1).crossJoin(broadcast(small))
      .selectExpr("graft_rotate(v, rot) AS r").collect()(0)
    assert(bad.isNullAt(0))
  }

  test("graft_shingles generator ≡ transform+explode; null yields no rows") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "a b c d e"), (2L, "x y"), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val gen = docs.selectExpr("id", "graft_shingles(text, 3)")
      .as[(Long, String)].collect().toSeq.sorted
    val hof = docs.filter(col("text").isNotNull).selectExpr("id",
      """explode(CASE WHEN size(split(text, ' ')) < 3
        |  THEN array(text)
        |  ELSE transform(sequence(0, size(split(text, ' '))-3), i ->
        |    concat_ws(' ', split(text, ' ')[i], split(text, ' ')[i+1],
        |      split(text, ' ')[i+2])) END) AS shingle""".stripMargin)
      .as[(Long, String)].collect().toSeq.sorted
    assert(gen == hof)
    assert(gen.count(_._1 == 1L) == 3) // 5 tokens -> 3 trigram rows
    assert(gen.count(_._1 == 2L) == 1) // short doc -> whole text
    assert(!gen.exists(_._1 == 3L)) // null text generates nothing
  }

  test("graft_nearest ≡ crossJoin+groupBy argmin bit-for-bit; zero " +
      "shuffle; ties keep low cid; NULL contract") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    // a k=5 model picked deterministically from the corpus
    val cent = e.orderBy("vec_id").limit(5).collect()
      .map(_.getSeq[Double](1).toArray)
    // the r14 SemDeDup assignment plan this expression replaced:
    // crossJoin ×k, HOF d2, groupBy(vec_id) argmin, re-join for cosine
    val cdf = cent.zipWithIndex
      .map { case (v, cid) => (cid, v.toSeq) }.toSeq.toDF("cid", "cent")
    val legacy = e.crossJoin(broadcast(cdf))
      .withColumn("d2", expr(
        "aggregate(zip_with(v, cent, (x, y) -> (x-y)*(x-y)), " +
          "CAST(0 AS DOUBLE), (a, x) -> a + x)"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.v").as("v"))
      .join(broadcast(cdf), Seq("cid"))
      .selectExpr("vec_id", "cid", "graft_cosine(v, cent) AS csim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val model = Seq(Tuple1(cent.map(_.toSeq).toSeq)).toDF("cents")
    val nativeDf = e.crossJoin(broadcast(model))
      .selectExpr("vec_id", "graft_nearest(v, cents) AS m")
      .selectExpr("vec_id", "m.cid AS cid", "m.csim AS csim")
    val native = nativeDf.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    // bit-for-bit: FP accumulation order inside graft_nearest matches
    // the HOF d2 and graft_cosine loops exactly
    assert(native == legacy)
    // ZERO shuffle: the assignment is one scan + a 1-row broadcast.
    // The legacy plan shuffled the full corpus through the groupBy.
    val plan = nativeDf.queryExecution.executedPlan.toString
    assert(!"""(?<!Broadcast)Exchange""".r.findFirstIn(plan).isDefined,
      s"assignment must not shuffle; plan:\n$plan")
    assert("""\*\(\d+\).*graft_nearest""".r.findFirstIn(plan).isDefined ||
      plan.linesIterator.exists(l =>
        l.contains("*(") && l.contains("graft_nearest")),
      s"graft_nearest must ride whole-stage codegen; plan:\n$plan")
    // equidistant centroids tie to the LOW cid (min(struct) order);
    // a zero-norm vector yields NULL csim, never NaN
    val tie = Seq((Array(0.0, 0.0),
        Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0), Seq(1.0, 0.0))))
      .toDF("v", "cents")
      .selectExpr("graft_nearest(v, cents) AS m").collect()(0)
      .getStruct(0)
    assert(tie.getInt(0) == 0)
    assert(tie.isNullAt(1))
    // empty model / ragged centroid -> NULL, never a truncated answer
    val empty = Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
      .selectExpr(
        "graft_nearest(v, CAST(array() AS ARRAY<ARRAY<DOUBLE>>)) AS m")
      .collect()(0)
    assert(empty.isNullAt(0))
    val ragged = Seq((Array(1.0, 2.0), Seq(Seq(1.0), Seq(1.0, 2.0))))
      .toDF("v", "cents")
      .selectExpr("graft_nearest(v, cents) AS m").collect()(0)
    assert(ragged.isNullAt(0))
  }

  test("graft_sq8_encode: round-trip error <= half a quantization " +
      "step, out-of-range saturates, degenerate dim pins to lo, " +
      "shape mismatch / null element -> NULL") {
    graft.functions.GraftFunctions.register(spark)
    val lo = Array(-1.0, 0.0, 5.0)
    val hi = Array(1.0, 10.0, 5.0) // dim 2 degenerate (hi == lo)
    val vs = Seq(
      Array(-1.0, 0.0, 5.0), Array(1.0, 10.0, 5.0),
      Array(0.123, 7.89, 5.0), Array(-0.5, 2.5, 5.0),
      Array(-3.0, 42.0, 5.0)) // out of range both ways
    val df = vs.map(v => (v, lo, hi)).toDF("v", "lo", "hi")
      .selectExpr("v", "lo", "hi",
        "graft_sq8_encode(v, lo, hi) AS code")
    val rows = df.collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      val code = r.getAs[Array[Byte]](3)
      assert(code.length == 3)
      (0 until 3).foreach { i =>
        val (l, h) = (lo(i), hi(i))
        val dec = if (h <= l) l
          else l + ((code(i) & 0xFF) / 255.0) * (h - l)
        val halfStep = if (h <= l) 0.0 else (h - l) / 255.0 / 2.0
        val clamped = math.max(l, math.min(h, v(i)))
        assert(math.abs(dec - clamped) <= halfStep + 1e-12,
          s"dim $i: v=${v(i)} dec=$dec halfStep=$halfStep")
      }
    }
    // saturation: the out-of-range row pins to 0 / 255
    val sat = rows.last.getAs[Array[Byte]](3)
    assert((sat(0) & 0xFF) == 0 && (sat(1) & 0xFF) == 255)
    // shape mismatch and null element -> NULL, never a prefix code
    val bad = Seq((Array(1.0, 2.0), Array(0.0), Array(1.0)))
      .toDF("v", "lo", "hi")
      .selectExpr("graft_sq8_encode(v, lo, hi) AS c").collect()(0)
    assert(bad.isNullAt(0))
    val withNull = spark.sql(
      "SELECT graft_sq8_encode(array(1.0D, CAST(NULL AS DOUBLE)), " +
        "array(0.0D, 0.0D), array(1.0D, 1.0D)) AS c").collect()(0)
    assert(withNull.isNullAt(0))
  }

  test("graft_sq8_adc == graft_cosine(q, decoded) exactly (fused ADC " +
      "vs materialized decode), participates in whole-stage codegen, " +
      "and interpreted == codegen") {
    graft.functions.GraftFunctions.register(spark)
    // non-local source so codegen actually runs
    val base = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 200)
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val stats = base.selectExpr("posexplode(v)")
      .groupBy(col("pos"))
      .agg(min(col("col")).as("l"), max(col("col")).as("h"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val model = Seq((stats.map(_._2).toSeq, stats.map(_._3).toSeq))
      .toDF("qlo", "qhi")
    val coded = base.crossJoin(broadcast(model))
      .selectExpr("vec_id", "v", "qlo", "qhi",
        "graft_sq8_encode(v, qlo, qhi) AS code")
    val q = base.filter(col("vec_id") === 0)
      .selectExpr("v AS q_v")
    val scored = coded.crossJoin(broadcast(q))
      .selectExpr("vec_id", "code",
        "graft_sq8_adc(q_v, code, qlo, qhi) AS adc")
    val rows = scored.collect().sortBy(_.getLong(0))
    // the AQE-final plan (post-collect) must fuse the ADC projection
    // into a WholeStageCodegen stage (the "*(n)" prefix)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_sq8_adc")), s"plan:\n$plan")
    // independent reference: decode in plain Scala (same loop order as
    // the expression — bitwise-comparable) and cosine against the
    // exact query
    val qv = base.filter(col("vec_id") === 0)
      .collect()(0).getSeq[Double](1).toArray
    val (qloA, qhiA) = (stats.map(_._2), stats.map(_._3))
    rows.foreach { r =>
      val code = r.getAs[Array[Byte]](1)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until code.length).foreach { i =>
        val (l, h) = (qloA(i), qhiA(i))
        val y = if (h <= l) l
          else l + ((code(i) & 0xFF) / 255.0) * (h - l)
        dot += qv(i) * y; na += qv(i) * qv(i); nb += y * y
      }
      val ref = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(math.abs(r.getDouble(2) - ref) < 1e-12,
        s"vec ${r.getLong(0)}: adc=${r.getDouble(2)} ref=$ref")
    }
    // interpreted path (codegen off) agrees bit-for-bit
    val offRows = {
      val ws = spark.conf.get("spark.sql.codegen.wholeStage")
      val fm = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try scored.collect().sortBy(_.getLong(0))
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", ws)
        spark.conf.set("spark.sql.codegen.factoryMode", fm)
      }
    }
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      offRows.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
    // zero-norm query -> NULL
    val z = Seq((Array(0.0, 0.0), Array(0.0, 0.0), Array(1.0, 1.0)))
      .toDF("q", "lo", "hi")
      .selectExpr(
        "graft_sq8_adc(q, graft_sq8_encode(array(0.5D, 0.5D), lo, hi)" +
          ", lo, hi) AS c").collect()(0)
    assert(z.isNullAt(0))
  }
}
