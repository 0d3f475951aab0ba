package graft.operators

import graft.Tables
import graft.Ql.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (builder brief + M4):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane-LSH bucketed variant as the scale path.
  *
  * Scale design (100 TB / billions of vectors):
  *  - Brute force: queries are broadcast (small side), candidates
  *    streamed — one pass over the corpus, per-partition top-k heaps via
  *    window-on-rounded-score; no shuffle of the corpus. Exact but O(n·q).
  *  - LSH: each vector gets a b-bit signature from deterministic
  *    pseudo-random hyperplanes (hash-derived components, no stored
  *    model); corpus is shuffled ONCE on bucket id; probing cost is
  *    |bucket| not n. Recall is tunable via bands; the spec measures it
  *    against the brute-force baseline.
  *  - All vector math is higher-order array expressions (zip_with /
  *    aggregate) in double precision — no UDF serialization overhead.
  */
object Similarity {

  /** Single-file fixture => single input partition; signature/norm
    * computation is per-row CPU work, so fan out across cores first
    * (at cluster scale the source arrives pre-split). */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)

  /** Normalized double vector + L2 norm, once per row. */
  private def prepared(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "label", "v",
        "sqrt(aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x*x)) AS nrm")

  private val dotExpr =
    "aggregate(zip_with(q_v, c_v, (x, y) -> x*y), CAST(0 AS DOUBLE), " +
      "(acc, x) -> acc + x)"

  // ---- product quantization (Jégou et al. 2011) ----

  private def codebookDf(s: SparkSession,
      code: Map[(Int, Int), Seq[Double]]): DataFrame = {
    import s.implicits._
    code.toSeq.map { case ((sb, cid), cent) => (sb, cid, cent) }
      .toDF("sub", "cid", "cent")
  }

  /** Nearest sub-centroid per (vector, subspace): one broadcast join
    * plus a min(struct) argmin with a deterministic cid tie-break —
    * the assignment pass that both training and encoding run. */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("sub"))
      .withColumn("d2", expr(
        "aggregate(zip_with(sv, cent, (x, y) -> (x-y)*(x-y)), " +
          "CAST(0 AS DOUBLE), (a, x) -> a + x)"))
      .groupBy(col("vec_id"), col("label"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"), col("sv"))).as("m"))
      .select(col("vec_id"), col("label"), col("sub"),
        col("m.cid").as("cid"), col("m.sv").as("sv"))

  // ---- optimized product quantization (Ge et al., CVPR 2013) ----

  /** One-row frame carrying an orthonormal rotation as
    * array<array<double>> — the broadcast model for [[rotated]].
    * Convention: rotated[j] = Σ_i v[i] · rot[i][j]. */
  private def rotationDf(s: SparkSession,
      r: Seq[Seq[Double]]): DataFrame = {
    import s.implicits._
    Seq(Tuple1(r)).toDF("rot")
  }

  /** Apply the rotation to every vector: one cross join with the
    * 1-row broadcast model, then the native codegen'd graft_rotate
    * matrix–vector primitive — one fused primitive-double loop per
    * row (the HOF formulation evaluated d² interpreted lambdas per
    * row, which made the full-corpus encode pass model-bound instead
    * of scan-bound). No UDF, no driver round trip. */
  private def rotated(vecs: DataFrame, rdf: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(rdf))
      .selectExpr("vec_id", "label", "graft_rotate(vn, rot) AS vn")

  /** Split d-dim vectors into m contiguous sub-vectors — the PQ
    * subspace explode shared by training, encoding and the OPQ loop. */
  private def subSplit(vecs: DataFrame, m: Int, dim: Int): DataFrame =
    vecs.select(col("vec_id"), col("label"),
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), " +
            s"s -> slice(vn, s * ${dim / m} + 1, ${dim / m}))")))
      .withColumnRenamed("pos", "sub")
      .withColumnRenamed("col", "sv")

  /** Orthogonal Procrustes: the rotation maximizing tr(Rᵀ M) for
    * M = Xᵀ X̂ is R = U Vᵀ from the SVD M = U Σ Vᵀ — a d×d
    * driver-side breeze call (the model is KBs; the DATA never moves
    * for this step). */
  private def procrustes(m: Array[Array[Double]],
      d: Int): Seq[Seq[Double]] = {
    val bm = breeze.linalg.DenseMatrix.tabulate(d, d)((i, j) => m(i)(j))
    val s = breeze.linalg.svd(bm)
    val r = s.U * s.Vt
    Seq.tabulate(d, d)((i, j) => r(i, j))
  }

  /** OPQ training (non-parametric alternation): rotate → train PQ →
    * reconstruct → Procrustes-update R, repeated; the codebook is
    * retrained under the final rotation so the returned pair is
    * consistent. Training runs on a BOUNDED deterministic sample
    * (`vec_id < trainCap`) — the FAISS discipline: model fitting is
    * O(sample), and only the one-pass ENCODE ever scans the corpus,
    * which is what keeps the d²-per-row rotate/covariance passes off
    * the 100 TB path. Nothing larger than d² + m·ks doubles reaches
    * the driver. Deterministic end to end: seeded Lloyd,
    * decimal-summed covariance, LAPACK SVD on bit-identical input. */
  private[graft] def opqTrain(s: SparkSession, vecs: DataFrame, m: Int,
      ks: Int, d: Int, rounds: Int, lloydIters: Int,
      trainCap: Int = 1024)
  : (Seq[Seq[Double]], Map[(Int, Int), Seq[Double]]) = {
    // Model fitting is O(sample) BY CONSTRUCTION (`trainCap` bounds
    // the training vectors regardless of corpus size — FAISS trains
    // OPQ the same way, on a bounded driver-side sample), so the
    // sample collects ONCE and the whole alternation (rotate → Lloyd
    // → reconstruct → cross-covariance → Procrustes) runs driver-side
    // over primitive arrays: ~1k×64 doubles of state, microseconds of
    // arithmetic per round. The previous distributed loop ran
    // rounds×(2 Lloyd jobs + a covariance job) of millisecond-scale
    // compute each — scheduling and per-step planning dominated the
    // query (knn_opq ~10 s at sf0.1, most of it the training loop).
    // The full-corpus ENCODE remains the only distributed pass, which
    // is the 100 TB shape. Same algorithmic rules as the distributed
    // loop: identity first rotation, seeds = sub-vectors of the ks
    // smallest vec_ids, argmin with low-cid tie-break, empty clusters
    // keep their centroid, codebook warm-starts across rounds (Ge et
    // al.'s non-parametric alternation), fixed iteration order ⇒
    // deterministic.
    val subLen = d / m
    val rows = collectSample(vecs, trainCap)
    val X = rows.map(_._2)

    def rotate(x: Array[Double], r: Array[Array[Double]])
    : Array[Double] = {
      val y = new Array[Double](d)
      var j = 0
      while (j < d) {
        var acc = 0.0; var i = 0
        while (i < d) { acc += x(i) * r(i)(j); i += 1 }
        y(j) = acc; j += 1
      }
      y
    }

    var r: Array[Array[Double]] =
      Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var code: Option[LocalLloyd.Code] = None
    for (_ <- 1 to rounds) {
      val ys = X.map(rotate(_, r))
      val init = code.getOrElse(
        LocalLloyd.seeds(rows.map(_._1), ys, m, ks, subLen))
      val cb = LocalLloyd.lloyd(ys, init, m, subLen,
        if (code.isEmpty) lloydIters else 1)
      code = Some(cb)
      // cross-covariance M = Xᵀ X̂ (original x, rotated-space x̂)
      val cov = Array.fill(d, d)(0.0)
      X.zip(ys).foreach { case (x, y) =>
        val xhat = new Array[Double](d)
        var sb = 0
        while (sb < m) {
          val cent = cb(sb)(LocalLloyd.assignOne(y, sb, cb, subLen))
          System.arraycopy(cent, 0, xhat, sb * subLen, subLen)
          sb += 1
        }
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) { cov(i)(j) += x(i) * xhat(j); j += 1 }
          i += 1
        }
      }
      r = procrustes(cov, d).map(_.toArray).toArray
    }
    // final polish: one Lloyd pass under the final rotation
    val codeF = LocalLloyd.lloyd(X.map(rotate(_, r)), code.get, m,
      subLen, 1)
    (r.map(_.toSeq).toSeq, LocalLloyd.toMap(codeF, m))
  }

  /** PQ codebook trained driver-side over the bounded sample with
    * R = I — the plain-PQ (IVF-PQ) half of the same sample-train /
    * corpus-encode split [[opqTrain]] uses. Previously the codebook
    * Lloyd ran DISTRIBUTED over the whole corpus (iters full scans +
    * collect per pass) — against the FAISS discipline and, at sf0.1,
    * most of knn_ivfpq's wall clock. */
  private[graft] def pqTrainLocal(vecs: DataFrame, m: Int, ks: Int,
      d: Int, iters: Int, trainCap: Int = 1024)
  : Map[(Int, Int), Seq[Double]] = {
    val subLen = d / m
    val rows = collectSample(vecs, trainCap)
    val ys = rows.map(_._2)
    val code = LocalLloyd.lloyd(ys,
      LocalLloyd.seeds(rows.map(_._1), ys, m, ks, subLen),
      m, subLen, iters)
    LocalLloyd.toMap(code, m)
  }

  private def collectSample(vecs: DataFrame,
      trainCap: Int): Array[(Long, Array[Double])] = {
    val rows = vecs.filter(col("vec_id") < trainCap)
      .select(col("vec_id"), col("vn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty training sample")
    rows
  }

  /** Driver-side Lloyd over a collected sample — the shared machinery
    * of [[opqTrain]] and [[pqTrainLocal]]. Same rules as the old
    * distributed loop: seeds are the sub-vectors of the ks smallest
    * vec_ids, argmin breaks ties toward the low cid, an empty cluster
    * keeps its centroid. Fixed iteration order ⇒ deterministic. */
  private object LocalLloyd {
    type Code =
      Array[scala.collection.immutable.TreeMap[Int, Array[Double]]]

    def dist2(a: Array[Double], b: Array[Double], off: Int,
        subLen: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < subLen) {
        val t = a(off + i) - b(i); acc += t * t; i += 1
      }
      acc
    }

    def assignOne(y: Array[Double], sb: Int, cb: Code,
        subLen: Int): Int = {
      var best = -1; var bestD = Double.MaxValue
      cb(sb).foreach { case (cid, cent) =>
        val dd = dist2(y, cent, sb * subLen, subLen)
        if (dd < bestD) { bestD = dd; best = cid } // ties keep low cid
      }
      best
    }

    def seeds(ids: Array[Long], ys: Array[Array[Double]], m: Int,
        ks: Int, subLen: Int): Code = {
      val seedRows = ids.zip(ys).filter(_._1 < ks)
      Array.tabulate(m)(sb => scala.collection.immutable.TreeMap(
        seedRows.map { case (id, y) =>
          id.toInt -> java.util.Arrays.copyOfRange(y, sb * subLen,
            (sb + 1) * subLen)
        }.toIndexedSeq: _*))
    }

    def lloyd(ys: Array[Array[Double]], init: Code, m: Int,
        subLen: Int, iters: Int): Code = {
      var cb = init
      for (_ <- 1 to iters) {
        val sums = Array.fill(m)(
          scala.collection.mutable.Map.empty[Int, (Array[Double], Int)])
        ys.foreach { y =>
          var sb = 0
          while (sb < m) {
            val cid = assignOne(y, sb, cb, subLen)
            val (acc, n) = sums(sb).getOrElseUpdate(cid,
              (new Array[Double](subLen), 0))
            var i = 0
            while (i < subLen) { acc(i) += y(sb * subLen + i); i += 1 }
            sums(sb)(cid) = (acc, n + 1)
            sb += 1
          }
        }
        cb = Array.tabulate(m)(sb => cb(sb).map { case (cid, old) =>
          sums(sb).get(cid) match {
            case Some((acc, n)) if n > 0 => cid -> acc.map(_ / n)
            case _ => cid -> old // empty cluster keeps its centroid
          }
        })
      }
      cb
    }

    def toMap(code: Code, m: Int): Map[(Int, Int), Seq[Double]] =
      (for {
        sb <- 0 until m
        (cid, cent) <- code(sb)
      } yield (sb, cid) -> cent.toSeq).toMap
  }

  /** Mean per-vector quantization error Σ‖xR − x̂‖²/n under a
    * (rotation, codebook) pair, evaluated with optimal re-assignment —
    * the OPQ objective. Decimal-summed ⇒ partition-invariant;
    * spec-facing. */
  private[graft] def opqDistortion(s: SparkSession, vecs: DataFrame,
      r: Seq[Seq[Double]], code: Map[(Int, Int), Seq[Double]],
      m: Int, d: Int): Double = {
    graft.functions.GraftFunctions.register(s) // rotated needs graft_rotate
    val cb = codebookDf(s, code)
    val sub = subSplit(rotated(vecs, rotationDf(s, r)), m, d)
    pqAssign(sub, cb)
      .join(broadcast(cb), Seq("sub", "cid"))
      .withColumn("d2", expr(
        "aggregate(zip_with(sv, cent, (x, y) -> (x-y)*(x-y)), " +
          "CAST(0 AS DOUBLE), (a, x) -> a + x)"))
      .agg((sum(col("d2").cast("decimal(38,25)")).cast("double") /
        countDistinct(col("vec_id"))).as("e"))
      .head().getDouble(0)
  }

  /** Two-pass distributed (n, mean, covariance) over the embedding
    * corpus — the PCA/whitening model input. Decimal partial sums ⇒
    * partition-invariant; only d + d² doubles reach the driver.
    * Spec-facing for the trace/orthonormality assertions. */
  private[graft] def embedCovariance(s: SparkSession, dir: String,
      d: Int): (Double, Array[Double], Array[Array[Double]]) = {
    import s.implicits._
    val all = prepared(s, dir).select(col("vec_id"), col("v")).persist()
    val n = all.count().toDouble
    val meanSums = (0 until d).map(j =>
      sum(col("v").getItem(j).cast("decimal(38,18)"))
        .cast("double").as(s"m$j"))
    val mu = all.agg(meanSums.head, meanSums.tail: _*).collect()(0)
    val mean = Array.tabulate(d)(j => mu.getDouble(j) / n)
    val muDf = broadcast(Seq(Tuple1(mean.toSeq)).toDF("mu"))
    val scatterSums = (0 until d).map(j =>
      sum((col("xi") * col("cv").getItem(j)).cast("decimal(38,18)"))
        .cast("double").as(s"c$j"))
    val cov = Array.fill(d, d)(0.0)
    all.crossJoin(muDf)
      .selectExpr("zip_with(v, mu, (a, b) -> a - b) AS cv")
      .select(posexplode(col("cv")).as(Seq("i", "xi")), col("cv"))
      .groupBy(col("i"))
      .agg(scatterSums.head, scatterSums.tail: _*)
      .collect()
      .foreach { r =>
        val i = r.getInt(0)
        (0 until d).foreach(j => cov(i)(j) = r.getDouble(j + 1) / n)
      }
    all.unpersist()
    (n, mean, cov)
  }

  // Multi-table hyperplane signatures come from the native graft_hplsh
  // expression (graft.functions.HyperplaneLsh): T tables of b sign bits,
  // plane components derived from splitmix64 — deterministic, model-free.
  // Banding (T tables of b bits) is what makes hyperplane LSH usable:
  // recall = 1-(1-p^b)^T per neighbor vs p^b for one wide table.

  val queries: Map[String, Q] = Map(
    // Exact brute-force cosine top-3 neighbors for 10 query vectors.
    "knn_bruteforce" -> ((s, dir) => {
      val all = prepared(s, dir)
      val q = broadcast(all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"),
          col("nrm").as("q_n")))
      val c = all.select(col("vec_id").as("c_id"), col("v").as("c_v"),
        col("nrm").as("c_n"))
      val scored = q.join(c, col("q_id") =!= col("c_id"))
        .selectExpr("q_id", "c_id", s"$dotExpr / (q_n * c_n) AS cos")
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos_r"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_r"), asc("c_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
    }),

    // Hard-negative mining for contrastive training: per query, the
    // top-3 most-similar vectors with a DIFFERENT label — the
    // "semantically close but wrong" examples a retrieval/embedding
    // trainer needs most. Same broadcast-query brute-force shape as
    // knn_bruteforce (the 10-query probe set is fixed-size by
    // construction, so the broadcast is scale-safe) with the label
    // mismatch folded into the join condition, so codegen filters
    // candidates before the dot product is computed.
    "knn_hard_negatives" -> ((s, dir) => {
      val all = prepared(s, dir)
      val q = broadcast(all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_lbl"),
          col("v").as("q_v"), col("nrm").as("q_n")))
      val c = all.select(col("vec_id").as("c_id"),
        col("label").as("c_lbl"), col("v").as("c_v"),
        col("nrm").as("c_n"))
      val scored = q.join(c, col("q_id") =!= col("c_id") &&
          col("q_lbl") =!= col("c_lbl"))
        .selectExpr("q_id", "c_id", "c_lbl",
          s"$dotExpr / (q_n * c_n) AS cos")
        .select(col("q_id"), col("c_id"), col("c_lbl"),
          round(col("cos"), 6).as("cos_r"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_r"), asc("c_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
    }),

    // LSH-bucketed ANN: 8 tables x 6-bit hyperplane signatures;
    // candidates = union over tables of same-bucket vectors, then exact
    // cosine re-rank on the (much smaller) candidate set. The corpus is
    // shuffled once on (table, bucket); probe cost ∝ bucket size.
    "knn_lsh" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val all = prepared(s, dir)
      val banded = all
        .withColumn("buckets", expr("graft_hplsh(v, 8, 6)"))
        .select(col("vec_id"), posexplode(col("buckets")))
        .withColumnRenamed("pos", "table_id")
        .withColumnRenamed("col", "bucket")
      val qb = broadcast(banded.filter(col("vec_id") < 10)
        .withColumnRenamed("vec_id", "q_id"))
      val cand = qb.join(banded.withColumnRenamed("vec_id", "c_id"),
          Seq("table_id", "bucket"))
        .filter(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"))
        .distinct()
      val q = broadcast(all.select(col("vec_id").as("q_id"),
        col("v").as("q_v"), col("nrm").as("q_n")))
      val c = all.select(col("vec_id").as("c_id"), col("v").as("c_v"),
        col("nrm").as("c_n"))
      val scored = cand.join(q, Seq("q_id")).join(c, Seq("c_id"))
        .selectExpr("q_id", "c_id", s"$dotExpr / (q_n * c_n) AS cos")
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos_r"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_r"), asc("c_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
    }),

    // Same query through the native codegen'd Catalyst expression
    // (graft.functions.CosineSim) instead of zip_with/aggregate — the
    // hot-path variant; Bench compares the two.
    "knn_bruteforce_native" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val all = prepared(s, dir)
      val q = broadcast(all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")))
      val c = all.select(col("vec_id").as("c_id"), col("v").as("c_v"))
      val scored = q.join(c, col("q_id") =!= col("c_id"))
        .selectExpr("q_id", "c_id", "graft_cosine(q_v, c_v) AS cos")
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos_r"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_r"), asc("c_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
    }),

    // IVF ANN: label cells as the coarse quantizer (a trained k-means
    // would slot in identically — the labels stand in for cell
    // assignments). Probe path: per-dimension mean centroid per cell
    // (explode → (label, pos) avg → re-assemble), broadcast the ~|cells|
    // centroids, rank cells per query by centroid cosine, search only
    // the top-`nprobe` cells with the exact native cosine. At 100 TB the
    // corpus is range-partitioned by cell id so a probe touches nprobe
    // partitions, not n. Estimates deterministic but avg accumulation
    // order is engine-specific => rows-only driver check; recall vs the
    // exact brute force is asserted in SimilaritySpec.
    "knn_ivf" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val nprobe = 3
      val all = prepared(s, dir)
      val centroids = all
        .select(col("label"), posexplode(col("v")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
          "p -> p.m) AS cent"))
      val q = broadcast(all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")))
      val wCell = Window.partitionBy(col("q_id"))
        .orderBy(desc("cent_cos"), asc("label"))
      val probed = q.join(broadcast(centroids))
        .selectExpr("q_id", "q_v", "label",
          "graft_cosine(q_v, cent) AS cent_cos")
        .withColumn("cell_rk", row_number().over(wCell))
        .filter(col("cell_rk") <= nprobe)
        .select(col("q_id"), col("q_v"), col("label"))
      val scored = probed
        .join(all.select(col("vec_id").as("c_id"), col("label"),
          col("v").as("c_v")), Seq("label"))
        .filter(col("q_id") =!= col("c_id"))
        .selectExpr("q_id", "c_id", "graft_cosine(q_v, c_v) AS cos")
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos_r"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_r"), asc("c_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
    }),

    // PERSISTED IVF index (operators/VectorIndex): the same coarse-
    // quantize-then-probe contract as knn_ivf, but the index is a
    // cell-identity-partitioned snapshot TABLE — a probe's
    // `cell IN (...)` is a consumed filter over value-pure files, so
    // the scan plans ONLY the nprobe cells' files. "ANN reads
    // ~nprobe/nlist of the corpus bytes" becomes a manifest-level
    // fact decided before any IO, instead of a join-time hope.
    // Rows-only by the ANN contract; recall, determinism, pruning
    // and incremental-add pins live in VectorIndexSpec.
    "knn_ivf_persisted" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-ivfx-q").toString + "/ix"
      VectorIndex.build(s, emb(s, dir).select("vec_id", "embedding"),
        root, nlist = 16, iters = 5)
      VectorIndex.search(s, root,
        emb(s, dir).filter(col("vec_id") < 10)
          .selectExpr("vec_id AS q_id", "embedding"),
        k = 3, nprobe = 3)
    }),

    // SQ8-CODED persisted IVF index: the same probe contract, but
    // cells store 1 B/dim scalar-quantized codes (8× smaller index —
    // at 100 TB of embeddings the index is IO-priced by the probe,
    // not its own size), scored by fused asymmetric distance
    // (graft_sq8_adc, codegen) and exactly re-ranked from a
    // vec_id-bloomed raw sidecar the search touches only as a
    // point lookup. Rows-only by the ANN contract; recall vs the
    // uncoded index, byte-shrink ≥4× and pruning pins live in
    // VectorIndexSpec.
    "knn_ivf_persisted_sq8" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-ivfx8-q").toString + "/ix"
      VectorIndex.build(s, emb(s, dir).select("vec_id", "embedding"),
        root, nlist = 16, iters = 5, codec = Some("sq8"))
      VectorIndex.search(s, root,
        emb(s, dir).filter(col("vec_id") < 10)
          .selectExpr("vec_id AS q_id", "embedding"),
        k = 3, nprobe = 3)
    }),

    // IVF-PQ ANN (Jégou et al., "Product Quantization for Nearest
    // Neighbor Search", TPAMI 2011): the memory-compression scale path.
    // A 64-dim float vector (256 bytes) becomes m=8 sub-codes of
    // ks=16 centroids — 8 half-bytes — a 64x compression that is what
    // lets a billion-vector index live in executor memory at 100 TB.
    // Pipeline: normalize (L2 order == cosine order), split into m
    // subspaces, train per-subspace codebooks with distributed Lloyd
    // iterations (assignments are a broadcast-join pass over the
    // corpus; ONLY the model — m*ks sub-centroids, ~8 KB — is ever
    // collected), encode the corpus once, then answer queries by
    // asymmetric distance: a per-query distance TABLE (m*ks entries)
    // replaces all vector math with code lookups, IVF cell probing
    // (label cells, as knn_ivf) bounds the candidate set, and the
    // ADC top-16 re-ranks through the exact native cosine. Distances
    // are approximate => rows-only driver check; recall vs the exact
    // brute force is asserted in SimilaritySpec.
    "knn_ivfpq" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val m = 8; val ks = 16; val nprobe = 4
      val all = prepared(s, dir)
        .withColumn("vn", expr("transform(v, x -> x / nrm)"))
      val sub = all.select(col("vec_id"), col("label"),
          posexplode(expr(
            s"transform(sequence(0, ${m - 1}), " +
              s"s -> slice(vn, s * ${64 / m} + 1, ${64 / m}))")))
        .withColumnRenamed("pos", "sub")
        .withColumnRenamed("col", "sv")
        .persist()
      // sample-train / corpus-encode: the codebook fits on the driver
      // from the bounded sample; only pqAssign scans the corpus
      val codebook = pqTrainLocal(
        all.select(col("vec_id"), col("vn")), m, ks, 64, iters = 3)
      val cb = codebookDf(s, codebook)
      // encode the corpus: nearest sub-centroid per (vector, subspace).
      // MATERIALIZED while `sub` is still cached — the returned plan
      // executes after this function returns, and an unpersisted `sub`
      // would re-derive the corpus explode once per consumer; the
      // cached codes are the m-bytes-per-vector index (the compression
      // is the point), so this is the state a serving index keeps hot.
      val codes = pqAssign(sub, cb)
        .select(col("vec_id").as("c_id"), col("label"),
          col("sub"), col("cid"))
        .persist()
      codes.count()
      // coarse IVF probe on label cells (the knn_ivf quantizer)
      val centroids = all
        .select(col("label"), posexplode(col("vn")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col")).as("cm"))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), " +
          "p -> p.cm) AS cent"))
      val q = all.filter(col("vec_id") < 10)
      val wCell = Window.partitionBy(col("q_id"))
        .orderBy(desc("cent_cos"), asc("label"))
      val cells = broadcast(q.select(col("vec_id").as("q_id"),
          col("vn").as("q_vn"))
        .join(broadcast(centroids))
        .selectExpr("q_id", "label", "graft_cosine(q_vn, cent) AS cent_cos")
        .withColumn("cell_rk", row_number().over(wCell))
        .filter(col("cell_rk") <= nprobe)
        .select(col("q_id"), col("label")))
      // asymmetric distance table: query subvector vs every
      // sub-centroid — m*ks rows per query, broadcast
      val dt = broadcast(sub.filter(col("vec_id") < 10)
        .withColumnRenamed("vec_id", "q_id")
        .join(broadcast(cb), Seq("sub"))
        .withColumn("pd", expr(
          "aggregate(zip_with(sv, cent, (x, y) -> (x-y)*(x-y)), " +
            "CAST(0 AS DOUBLE), (a, x) -> a + x)"))
        .select(col("q_id"), col("sub"), col("cid"), col("pd")))
      val wAdc = Window.partitionBy(col("q_id"))
        .orderBy(asc("adist"), asc("c_id"))
      val shortlist = codes.join(cells, Seq("label"))
        .join(dt, Seq("q_id", "sub", "cid"))
        .groupBy(col("q_id"), col("c_id"))
        .agg(sum(col("pd")).as("adist"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("adc_rk", row_number().over(wAdc))
        .filter(col("adc_rk") <= 16)
        .select(col("q_id"), col("c_id"))
      // exact re-rank of the ADC shortlist through the native cosine
      val qv = broadcast(all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")))
      val cv = all.select(col("vec_id").as("c_id"), col("v").as("c_v"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_r"), asc("c_id"))
      val out = shortlist.join(qv, Seq("q_id")).join(cv, Seq("c_id"))
        .selectExpr("q_id", "c_id", "graft_cosine(q_v, c_v) AS cos")
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos_r"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
      sub.unpersist()
      out
    }),

    // SQ8 ANN — scalar quantization (the FAISS ScalarQuantizer
    // QT_8bit model): each NORMALIZED dimension is affinely mapped to
    // an 8-bit code against per-dimension [lo, hi] trained from the
    // corpus. 64 doubles (512 B) become 64 bytes — 8× compression
    // with near-exact distances (max per-dim error = half a
    // quantization step), the cheap-and-cheerful tier below PQ's 64×.
    // Train = one min/max aggregation (2d doubles to the driver —
    // model-sized, never data); encode = one broadcast-join pass,
    // codes stay on the executors; query = asymmetric distance
    // (exact query vs decoded candidate) over the codes, top-16
    // shortlist, exact re-rank through the native cosine. Approximate
    // ⇒ rows-only driver check; code-range/error bounds, recall vs
    // brute force and determinism are asserted in SimilaritySpec.
    "knn_sq8" -> ((s, dir) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val all = prepared(s, dir)
        .withColumn("vn", expr("transform(v, x -> x / nrm)"))
      // per-dimension [lo, hi] over the normalized corpus: the model
      val stats = all.select(posexplode(col("vn")))
        .groupBy(col("pos"))
        .agg(min(col("col")).as("lo"), max(col("col")).as("hi"))
        .collect().map(r => (r.getInt(0), r.getDouble(1),
          r.getDouble(2))).sortBy(_._1)
      val model = broadcast(Seq((stats.map(_._2).toSeq,
        stats.map(_._3).toSeq)).toDF("qlo", "qhi"))
      // encode: one pass, 8-bit affine code per dimension (degenerate
      // dims — hi == lo — pin to code 0 and decode back to lo)
      val codes = all.crossJoin(model)
        .selectExpr("vec_id", "label",
          """transform(sequence(0, size(vn) - 1), i ->
            |  CAST(round(255.0 * (vn[i] - qlo[i]) /
            |    IF(qhi[i] = qlo[i], 1.0, qhi[i] - qlo[i])) AS INT))
            |  AS code""".stripMargin)
      // asymmetric scoring: exact query vector vs DECODED candidate
      val q = broadcast(all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vn").as("q_vn"),
          col("v").as("q_v")))
      val wAdc = Window.partitionBy(col("q_id"))
        .orderBy(desc("acos"), asc("c_id"))
      val shortlist = q.join(codes.crossJoin(model)
          .selectExpr("vec_id AS c_id",
            """transform(sequence(0, size(code) - 1), i ->
              |  qlo[i] + (CAST(code[i] AS DOUBLE) / 255.0) *
              |    (qhi[i] - qlo[i])) AS dec""".stripMargin),
          col("q_id") =!= col("c_id"))
        .selectExpr("q_id", "c_id", "graft_cosine(q_vn, dec) AS acos")
        .withColumn("adc_rk", row_number().over(wAdc))
        .filter(col("adc_rk") <= 16)
        .select(col("q_id"), col("c_id"))
      // exact re-rank of the shortlist on the original vectors
      val cv = all.select(col("vec_id").as("c_id"), col("v").as("c_v"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_r"), asc("c_id"))
      shortlist.join(q.select(col("q_id"), col("q_v")), Seq("q_id"))
        .join(cv, Seq("c_id"))
        .selectExpr("q_id", "c_id", "graft_cosine(q_v, c_v) AS cos")
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos_r"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
    }),

    // OPQ ANN (Ge et al., "Optimized Product Quantization", CVPR
    // 2013): product quantization under a LEARNED orthonormal
    // rotation — alternate (train PQ in rotated space) with (solve
    // the orthogonal Procrustes problem for the rotation that best
    // aligns the data to its reconstruction), so correlated
    // dimensions spread across subspaces and the same code budget
    // quantizes tighter. The rotation is trained distributedly (the
    // d×d cross-covariance is a partial-aggregated outer-product sum;
    // only d² doubles + the codebook reach the driver, where a 64×64
    // SVD closes the loop). Queries answer by asymmetric distance
    // over the full corpus — no IVF stage, isolating what the
    // rotation buys the quantizer — with the ADC top-16 re-ranked by
    // the exact native cosine on the ORIGINAL vectors. Approximate ⇒
    // rows-only driver check; the Procrustes error-reduction
    // guarantee, rotation orthonormality and recall vs brute force
    // are asserted in SimilaritySpec.
    "knn_opq" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val m = 8; val ks = 16; val d = 64
      val all = prepared(s, dir)
        .withColumn("vn", expr("transform(v, x -> x / nrm)"))
      val base = all.select(col("vec_id"), col("label"), col("vn"))
      val (rot, code) =
        opqTrain(s, base, m, ks, d, rounds = 2, lloydIters = 3)
      val cb = codebookDf(s, code)
      val sub = subSplit(rotated(base, rotationDf(s, rot)), m, d)
        .persist()
      val codes = pqAssign(sub, cb)
        .select(col("vec_id").as("c_id"), col("sub"), col("cid"))
        .persist()
      codes.count()
      val dt = broadcast(sub.filter(col("vec_id") < 10)
        .withColumnRenamed("vec_id", "q_id")
        .join(broadcast(cb), Seq("sub"))
        .withColumn("pd", expr(
          "aggregate(zip_with(sv, cent, (x, y) -> (x-y)*(x-y)), " +
            "CAST(0 AS DOUBLE), (a, x) -> a + x)"))
        .select(col("q_id"), col("sub"), col("cid"), col("pd")))
      val wAdc = Window.partitionBy(col("q_id"))
        .orderBy(asc("adist"), asc("c_id"))
      val shortlist = codes.join(dt, Seq("sub", "cid"))
        .groupBy(col("q_id"), col("c_id"))
        .agg(sum(col("pd")).as("adist"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("adc_rk", row_number().over(wAdc))
        .filter(col("adc_rk") <= 16)
        .select(col("q_id"), col("c_id"))
      val qv = broadcast(all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")))
      val cv = all.select(col("vec_id").as("c_id"), col("v").as("c_v"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_r"), asc("c_id"))
      val out = shortlist.join(qv, Seq("q_id")).join(cv, Seq("c_id"))
        .selectExpr("q_id", "c_id", "graft_cosine(q_v, c_v) AS cos")
        .select(col("q_id"), col("c_id"),
          round(col("cos"), 6).as("cos_r"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
      sub.unpersist()
      out
    }),

    // Graph ANN: a k-NN graph built with NN-DESCENT (Dong et al.,
    // "Efficient K-Nearest Neighbor Graph Construction for Generic
    // Similarity Measures", WWW 2011) and queried by BEAM SEARCH over
    // the graph — the navigable-small-world family (HNSW's ancestor)
    // re-expressed in Spark's set-oriented model. Pointer-chasing
    // HNSW is inherently single-machine; NN-Descent's local-join
    // ("my neighbors' neighbors are probably my neighbors") is a
    // fixed number of keyed self-joins + per-node top-k windows, and
    // beam search is a fixed number of frontier-expansion joins —
    // every round a bounded shuffle, no driver-side graph, no
    // all-pairs stage. Scale: corpus shuffled on node id (O(n·k)
    // edges), per-round candidate set O(n·k²); queries broadcast.
    // Graph edges are hash-seeded + cosine-improved => deterministic,
    // but engine-specific => rows-only driver check; recall vs the
    // exact brute force is asserted in SimilaritySpec.
    "knn_graph" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val k = 8          // graph degree
      val rounds = 2     // NN-Descent improvement rounds
      val beam = 12      // query beam width
      val steps = 4      // beam-search hops
      val all = prepared(s, dir).persist()
      val n = all.count()
      val vecs = all.select(col("vec_id").as("id"), col("v"))

      // score candidate edges by cosine and keep each node's top-k
      // (ties broken by neighbor id: deterministic graph)
      def best(cand: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("src"))
          .orderBy(desc("cos"), asc("dst"))
        cand.join(vecs.select(col("id").as("src"),
            col("v").as("s_v")), Seq("src"))
          .join(vecs.select(col("id").as("dst"),
            col("v").as("d_v")), Seq("dst"))
          .selectExpr("src", "dst", "graft_cosine(s_v, d_v) AS cos")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select(col("src"), col("dst"))
      }

      // seed: k hash-derived pseudo-random neighbors per node.
      // Every loop-carried frame is localCheckpoint'ed (eager): an
      // iterative self-join otherwise DOUBLES the logical plan each
      // round, and re-analysis/AQE re-planning of that tree — not the
      // 2-hop join itself — dominates wall clock. Truncating lineage
      // per round is the Pregel/GraphX discipline; the checkpoint
      // holds O(n·k) edge rows on executors, nothing on the driver.
      var g = best(all.select(col("vec_id").as("src"))
        .select(col("src"), explode(expr(
          s"transform(sequence(0, ${k - 1}), " +
            s"j -> CAST(pmod(hash(src, j), ${n}L) AS BIGINT))"))
          .as("dst"))
        .filter(col("src") =!= col("dst")).distinct()).localCheckpoint()

      // NN-Descent: candidates = current ∪ reversed ∪ 2-hop edges
      for (_ <- 1 to rounds) {
        val rev = g.select(col("dst").as("src"), col("src").as("dst"))
        val hop2 = g.select(col("src"), col("dst").as("mid"))
          .join(g.select(col("src").as("mid"), col("dst")), Seq("mid"))
          .select(col("src"), col("dst"))
        g = best(g.unionByName(rev).unionByName(hop2)
          .filter(col("src") =!= col("dst")).distinct()).localCheckpoint()
      }

      // beam search: start every query at k fixed entry nodes, expand
      // the frontier along graph edges, keep the best `beam` per hop
      val q = broadcast(all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")))
      def score(cand: DataFrame): DataFrame =
        cand.join(q, Seq("q_id"))
          .join(vecs.select(col("id").as("c_id"),
            col("v").as("c_v")), Seq("c_id"))
          .selectExpr("q_id", "c_id", "graft_cosine(q_v, c_v) AS cos")
      val wBeam = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos"), asc("c_id"))

      var visited = score(q.select(col("q_id"))
        .join(vecs.filter(col("id") < k).select(col("id").as("c_id"))))
        .localCheckpoint()
      var frontier = visited.withColumn("rk", row_number().over(wBeam))
        .filter(col("rk") <= beam).select(col("q_id"), col("c_id"))
      for (_ <- 1 to steps) {
        val expanded = score(frontier
          .join(g.select(col("src").as("c_id"), col("dst")), Seq("c_id"))
          .select(col("q_id"), col("dst").as("c_id"))
          .distinct())
        // same lineage-truncation rule as the build loop: visited
        // feeds both the next frontier and the final re-rank, so an
        // un-truncated union chain is re-planned `steps` more times
        visited = visited.unionByName(expanded)
          .groupBy(col("q_id"), col("c_id"))
          .agg(max(col("cos")).as("cos"))
          .localCheckpoint()
        frontier = visited.withColumn("rk", row_number().over(wBeam))
          .filter(col("rk") <= beam).select(col("q_id"), col("c_id"))
      }
      visited.filter(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos_r"))
        .withColumn("rk", row_number().over(Window
          .partitionBy(col("q_id")).orderBy(desc("cos_r"), asc("c_id"))))
        .filter(col("rk") <= 3)
        .orderBy(asc("q_id"), asc("rk"))
    }),

    // Centroid stats per label — the IVF building block (coarse
    // quantizer): mean vector per label + intra-label dispersion.
    // PCA over the embedding corpus — the whitening/rotation stage a
    // vector pipeline runs before quantization (FAISS's PCAMatrix;
    // Ge et al.'s parametric OPQ initializes from exactly this
    // eigenbasis). Distributed two-pass shape: pass 1 decimal-sums
    // the per-dimension MEAN (d doubles to the driver); pass 2
    // centers in-plan against the broadcast mean and decimal-sums the
    // d×d scatter with the single-explode crossCov layout — two-pass
    // centering is the numerically honest form (E[xxᵀ]−μμᵀ cancels
    // catastrophically when variance ≪ mean²), and DECIMAL partial
    // sums make both passes partition-invariant. The d×d eigensolve
    // is a driver-side LAPACK call on bit-identical input — only
    // model-sized data ever reaches the driver. Output: per-component
    // eigenvalue + explained-variance ratios. Engine-side model ⇒
    // rows-only driver check; PSD spectrum, trace identity,
    // basis orthonormality and determinism are spec-asserted.
    "embedding_pca_stats" -> ((s, dir) => {
      import s.implicits._
      val d = 64
      val (_, _, cov) = embedCovariance(s, dir, d)
      val es = breeze.linalg.eigSym(
        breeze.linalg.DenseMatrix.tabulate(d, d)((i, j) => cov(i)(j)))
      // eigSym returns ascending — present descending, PCA convention
      val eigs = es.eigenvalues.toArray.reverse
      val total = eigs.sum
      val rows = eigs.zipWithIndex.scanLeft((0, 0.0, 0.0, 0.0)) {
        case ((_, _, _, cum), (ev, i)) =>
          (i, ev, ev / total, cum + ev / total)
      }.drop(1).map { case (i, ev, ratio, cum) =>
        (i.toLong, BigDecimal(ev).setScale(9,
          BigDecimal.RoundingMode.HALF_EVEN).toDouble,
          BigDecimal(ratio).setScale(9,
            BigDecimal.RoundingMode.HALF_EVEN).toDouble,
          BigDecimal(cum).setScale(9,
            BigDecimal.RoundingMode.HALF_EVEN).toDouble)
      }.toSeq
      rows.toDF("component", "eig_r", "var_ratio_r", "cum_ratio_r")
        .orderBy(asc("component"))
    }),

    "embedding_label_stats" -> ((s, dir) => {
      prepared(s, dir)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          avg(col("nrm")).as("avg_norm"),
          min(col("nrm")).as("min_norm"),
          max(col("nrm")).as("max_norm"))
        .select(col("label"), col("n_vecs"),
          round(col("avg_norm"), 6).as("avg_norm_r"),
          round(col("min_norm"), 6).as("min_norm_r"),
          round(col("max_norm"), 6).as("max_norm_r"))
        .orderBy(asc("label"))
    }))

  // Brute-force cosine IS oracle-comparable: DuckDB's list_transform/
  // list_sum evaluate sequentially left-to-right like Spark's
  // aggregate(), so the double accumulation is bit-identical (verified
  // empirically at sf0.001/sf0.01). LSH variants stay rows-only
  // (splitmix-derived buckets are engine-specific); their recall is
  // asserted against the oracled brute force in SimilaritySpec.
  private val knnOracle =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |    sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
      |s AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    round(list_sum(list_transform(list_zip(q.v, c.v),
      |      p -> p[1]*p[2])) / (q.nrm*c.nrm), 6) AS cos_r
      |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT q_id, c_id, cos_r, rk FROM (
      |  SELECT q_id, c_id, cos_r, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_r DESC, c_id) AS rk FROM s)
      |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "knn_bruteforce" -> knnOracle,
    "knn_bruteforce_native" -> knnOracle,
    "knn_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |    sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
        |s AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |    c.label AS c_lbl,
        |    round(list_sum(list_transform(list_zip(q.v, c.v),
        |      p -> p[1]*p[2])) / (q.nrm*c.nrm), 6) AS cos_r
        |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        |    AND q.label <> c.label)
        |SELECT q_id, c_id, c_lbl, cos_r, rk FROM (
        |  SELECT q_id, c_id, c_lbl, cos_r, row_number()
        |    OVER (PARTITION BY q_id ORDER BY cos_r DESC, c_id) AS rk
        |  FROM s)
        |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,
    "embedding_label_stats" ->
      """SELECT label, count(*) AS n_vecs,
        |  round(avg(nrm), 6) AS avg_norm_r,
        |  round(min(nrm), 6) AS min_norm_r,
        |  round(max(nrm), 6) AS max_norm_r
        |FROM (SELECT label,
        |  sqrt(list_sum(list_transform(
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |    x -> x*x))) AS nrm FROM embeddings)
        |GROUP BY label ORDER BY label""".stripMargin)
}
