package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions.col

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("every dedup query runs") {
    Dedup.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() >= 0, s"$name failed")
    }
  }

  test("exact stats: distinct <= total") {
    val r = Dedup.queries("dedup_exact_stats")(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_docs"))
    assert(r.getAs[Long]("n_dup_docs") ==
      r.getAs[Long]("n_docs") - r.getAs[Long]("n_distinct"))
  }

  test("minhash-LSH finds a superset-quality approximation of exact " +
    "jaccard pairs (recall >= 0.9 at threshold 0.8 within blocks)") {
    val exact = Dedup.queries("dedup_token_jaccard")(spark, sfDir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.queries("dedup_minhash_lsh")(spark, sfDir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // The exact pass is blocked by (lang, source); LSH is corpus-wide,
    // so LSH may legitimately contain extra cross-block pairs. Recall is
    // measured on the blocked exact pairs.
    if (exact.nonEmpty) {
      val recall = exact.count(lsh.contains).toDouble / exact.size
      assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} pairs")
    }
    // precision by construction: every emitted pair passed exact verify
    val verified = Dedup.queries("dedup_minhash_lsh")(spark, sfDir)
      .select("jaccard").as[Double].collect()
    assert(verified.forall(_ >= 0.8))
  }

  test("simhash: pairs are symmetric-free and hamming-bounded") {
    val rows = Dedup.queries("dedup_simhash")(spark, sfDir)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect()
    rows.foreach { case (a, b, h) =>
      assert(a < b)
      assert(h >= 0 && h <= 3)
    }
  }

  test("bucket cap drops mega-bucket pairs, keeps surviving-band pairs") {
    def bands(d: Long, slots: (Int, Long)*): Seq[Long] = {
      val a = Array.tabulate(8)(i => -(d * 100 + i)) // per-doc fillers
      slots.foreach { case (i, v) => a(i) = v }
      a.toSeq
    }
    // docs 1-5 collide in band 0 (mega bucket); 10+11 collide in band 1;
    // docs 4+5 ALSO collide in band 2 (small bucket) — their pair must
    // survive the cap through that band even though band 0 is capped
    val sig = ((1L to 3L).map(d => (d, bands(d, 0 -> 999L))) ++
      Seq((4L, bands(4L, 0 -> 999L, 2 -> 55L)),
        (5L, bands(5L, 0 -> 999L, 2 -> 55L)),
        (10L, bands(10L, 1 -> 77L)), (11L, bands(11L, 1 -> 77L))))
      .toDF("doc_id", "bands")
    val uncapped = Dedup.lshCandidatePairs(sig)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.size == 10 + 1) // C(5,2) mega pairs + the small pair
    val capped = Dedup.lshCandidatePairs(sig, bucketCap = 3)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((10L, 11L), (4L, 5L)))
  }

  test("minhash clusters: cover the corpus, reps minimal, pairs agree") {
    val assign = Dedup.minhashClusterAssignments(spark, sfDir)
      .select("doc_id", "rep").as[(Long, Long)].collect().toMap
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    assert(assign.size == nDocs)
    assign.foreach { case (d, r) =>
      assert(r <= d)
      assert(assign.contains(r))
    }
    // docs the pair query says are near-dups should land in one cluster
    val pairs = Dedup.queries("dedup_minhash_lsh")(spark, sfDir)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    if (pairs.nonEmpty) {
      val agree = pairs.count { case (a, b) => assign(a) == assign(b) }
      assert(agree.toDouble / pairs.length >= 0.9,
        s"cluster agreement ${agree.toDouble / pairs.length}")
    }
    // the aggregated query partitions the corpus
    val sizes = Dedup.queries("dedup_minhash_clusters")(spark, sfDir)
      .select("n_docs").as[Long].collect()
    assert(sizes.sum == nDocs)
  }

  test("cluster propagation reaches fixpoint on a long bucket chain") {
    // d1-[b1]-d2-[b2]-d3-[b3]-d4-[b4]-d5-[b5]-d6: ONE true cluster
    // threaded through 5 buckets. A fixed 3-round horizon leaves the
    // tail under a second representative; the fixpoint loop must not.
    val edges = (1 to 5)
      .flatMap(i => Seq((i.toLong, i.toLong), ((i + 1).toLong, i.toLong)))
      .toDF("doc_id", "bkt")
    val assign = Dedup.clusterFromEdges(edges)
      .select("doc_id", "rep").as[(Long, Long)].collect().toMap
    assert(assign.size == 6)
    assert(assign.values.toSet == Set(1L),
      s"chain must collapse to one representative, got $assign")
    // two disjoint cliques stay two clusters (no over-merge)
    val twoCliques = Seq((1L, 10L), (2L, 10L), (5L, 20L), (6L, 20L))
      .toDF("doc_id", "bkt")
    val reps = Dedup.clusterFromEdges(twoCliques)
      .select("rep").distinct().as[Long].collect().toSet
    assert(reps == Set(1L, 5L))
  }

  test("incremental dedup: exact is non-trivial; LSH survivors are a " +
      "recall-bounded superset") {
    val newBatch = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 7 === 0).count()
    val exact = Dedup.queries("dedup_incremental_exact")(spark, sfDir)
      .as[Long].collect().toSet
    // the check bites only if the corpus actually removes some docs
    // AND some docs survive
    assert(exact.nonEmpty && exact.size < newBatch,
      s"exact survivors ${exact.size} of $newBatch must be a proper subset")
    val lsh = Dedup.incrementalLshSurvivors(spark, sfDir)
      .as[Long].collect().toSet
    // LSH blocks identically but can MISS matches (recall), never
    // fabricate them: every exact survivor survives LSH too, and the
    // extra (missed-match) survivors stay bounded
    assert(exact.subsetOf(lsh),
      s"exact-surviving docs dropped by LSH: ${exact.diff(lsh)}")
    assert((lsh.size - exact.size).toDouble / newBatch <= 0.15,
      s"LSH misses too many matches: ${lsh.size} vs exact ${exact.size}")
  }

  test("persisted LSH index: probe equals the in-plan incremental path " +
      "and scans the index, not corpus text") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lshidx")
    val idxPath = s"$tmp/corpus_lsh_index"
    Dedup.buildLshIndex(spark, sfDir, idxPath)
    val probe = Dedup.probeLshIndex(spark, sfDir, idxPath)
    // the corpus side must come from the saved index scan...
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("corpus_lsh_index"),
      "probe plan does not read the persisted index")
    // ...and the index itself carries no text (hashes only)
    assert(!spark.read.parquet(idxPath).columns.contains("text"))
    val fromIndex = probe.as[Long].collect().toSet
    val inPlan = Dedup.incrementalLshSurvivors(spark, sfDir)
      .as[Long].collect().toSet
    assert(fromIndex == inPlan,
      s"persisted-index probe diverges: ${fromIndex.diff(inPlan)} / " +
        s"${inPlan.diff(fromIndex)}")
  }

  test("embedding LSH dedup: verified pairs only, decent recall vs exact") {
    graft.functions.GraftFunctions.register(spark)
    val lsh = Dedup.queries("dedup_embedding_lsh")(spark, sfDir)
      .select("a_id", "b_id", "cos_r").as[(Long, Long, Double)].collect()
    // precision by construction: every emitted pair passed exact verify
    assert(lsh.forall(_._3 >= 0.4))
    assert(lsh.map(t => (t._1, t._2)).distinct.length == lsh.length)
    // exact corpus-wide ground truth at the same threshold
    val e = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val exact = e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .selectExpr("a.vec_id AS a_id", "b.vec_id AS b_id",
        "round(graft_cosine(a.v, b.v), 6) AS c")
      .filter(col("c") >= 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    if (exact.nonEmpty) {
      val found = lsh.map(t => (t._1, t._2)).toSet
      val recall = exact.count(found.contains).toDouble / exact.size
      // 8-bit tables over near-orthogonal random vectors: recall is
      // necessarily partial; assert materially better than chance
      assert(recall >= 0.1, s"embedding LSH recall $recall of ${exact.size}")
    }
  }

  test("embedding cosine: non-empty, top-5 per label, valid cosines") {
    val rows = Dedup.queries("dedup_embedding_cosine")(spark, sfDir)
      .select("label", "cos_r", "rk").as[(String, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, c, rk) =>
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(rk >= 1 && rk <= 5)
    }
    // within each label the top-5 ranking is monotone in cosine
    rows.groupBy(_._1).values.foreach { g =>
      val byRk = g.sortBy(_._3).map(_._2)
      assert(byRk.zip(byRk.tail).forall { case (hi, lo) => hi >= lo })
    }
  }

  test("levenshtein prefix dedup: symmetric-free, bounded, non-vacuous") {
    val rows = Dedup.queries("dedup_levenshtein_prefix")(spark, sfDir)
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect()
    assert(rows.nonEmpty, "no edit-distance pairs in fixture")
    rows.foreach { case (a, b, d) =>
      assert(a < b)
      assert(d >= 0 && d <= Dedup.levMaxDist)
    }
  }

  test("levenshtein prefix-filter candidates: full recall vs blocked " +
    "exact, and far fewer pairs than the quadratic block join") {
    val exact = Dedup.levenshteinBlockedExact(spark, sfDir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "blocked-exact found no pairs in fixture")
    val cand = Dedup.levenshteinPrefixCandidates(spark, sfDir)
    val candPairs = cand.select("a_id", "b_id")
      .as[(Long, Long)].collect().toSet
    // recall is a THEOREM for the prefix filter (brief asks >= 0.9;
    // anything below 1.0 here is a bug, not a tuning issue)
    val recall = exact.count(candPairs.contains).toDouble / exact.size
    assert(recall == 1.0, s"prefix-filter recall $recall < 1.0 over " +
      s"${exact.size} qualifying pairs")
    // pruning: candidates must be well under the all-pairs block join
    val blockPairs = {
      val d = graft.Tables.load(spark, sfDir, "documents")
        .groupBy("lang", "source").count()
        .select("count").as[Long].collect()
      d.map(n => n * (n - 1) / 2).sum
    }
    assert(candPairs.size < blockPairs / 2,
      s"candidates ${candPairs.size} vs block pairs $blockPairs — " +
        "prefix filter is not pruning")
    // the final query equals the blocked-exact result exactly
    val viaLsh = Dedup.queries("dedup_levenshtein_prefix")(spark, sfDir)
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
    val viaBlock = Dedup.levenshteinBlockedExact(spark, sfDir)
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
    assert(viaLsh == viaBlock)
  }

  test("candidate-pair count is observable (explosion visible in CI)") {
    def bands(d: Long, v: Long): Seq[Long] =
      Array.tabulate(8)(i => if (i == 0) v else -(d * 100 + i)).toSeq
    val sig = Seq((1L, bands(1, 9L)), (2L, bands(2, 9L)),
      (3L, bands(3, 9L))).toDF("doc_id", "bands")
    val cand = Dedup.lshCandidatePairs(sig)
    // collect() (not count()) — count() runs a DERIVED plan, leaving
    // this Dataset's own QueryExecution (whose metrics we read) unrun
    assert(cand.collect().length == 3) // C(3,2) through the shared band
    val m = cand.queryExecution.observedMetrics
    assert(m.get("lsh_candidates")
      .exists(_.getAs[Long]("n_candidates") == 3L),
      s"observed metrics: $m")
  }

  test("decontamination flags a planted eval-overlapping doc only") {
    // controlled corpus: doc 0 is the eval doc (0 % 97 == 0); doc 1
    // embeds doc 0's full text (shares its 8-token shingles); doc 2 is
    // disjoint. Exactly doc 1 must come back contaminated.
    val evalText =
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val cleanText =
      "one two three four five six seven eight nine ten eleven twelve"
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-decontam").toFile
    tmp.deleteOnExit()
    Seq(
      (0L, evalText, "en", "web", evalText.length.toLong),
      (1L, s"leading words then $evalText and trailing words", "en",
        "web", 99L),
      (2L, cleanText, "en", "web", cleanText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(s"${tmp.getAbsolutePath}/documents.parquet")
    val r = graft.operators.TextAnalysis.queries("docs_decontaminate")(
      spark, tmp.getAbsolutePath)
      .select("doc_id", "contaminated").as[(Long, Boolean)]
      .collect().toMap
    assert(r == Map(1L -> true, 2L -> false))
  }

  test("lshTune: S-curve crossing tracks the threshold, recall-weighted " +
      "tuning justifies the shipped 8x4 banding") {
    import graft.operators.Dedup.{lshCandidateProb, lshTune}
    // the crossing point (1/b)^(1/r) of the balanced-tuned pair must be
    // the closest achievable among divisor pairs of n
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val (b, r) = lshTune(64, t)
      val crossing = math.pow(1.0 / b, 1.0 / r)
      val best = (1 to 64).filter(64 % _ == 0).map { rr =>
        math.abs(math.pow(rr.toDouble / 64, 1.0 / rr) - t) // (1/b)^(1/r)
      }.min
      assert(math.abs(crossing - t) <= best + 0.15,
        s"t=$t chose ($b,$r), crossing $crossing")
    }
    // more selective thresholds need more rows per band
    assert(lshTune(64, 0.9)._2 >= lshTune(64, 0.3)._2)
    // the shipped dedup_minhash_lsh config (8 bands x 4 rows, verify at
    // 0.8): candidate probability at the threshold must be near-1 —
    // the analytical form of the spec's measured recall >= 0.9
    assert(lshCandidateProb(8, 4, 0.8) >= 0.98)
    // and recall-weighted tuning at 32 hashes indeed pushes toward
    // fewer rows (higher recall) than the balanced choice
    assert(lshTune(32, 0.8, fnWeight = 8.0)._2 <=
      lshTune(32, 0.8)._2)
  }

  test("SemDeDup keep-rule: pruned vectors have a same-cluster " +
      "higher-priority witness above tau, survivors have none — " +
      "checked against an independent Scala recomputation") {
    import org.apache.spark.sql.functions._
    val assigned = graft.operators.Dedup.semanticAssignmentsOf(spark,
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")), k = 16, iters = 4)
    val dropped = graft.operators.Dedup
      .semanticDropped(spark, assigned, tauPct = 40)
      .collect().map(_.getLong(0)).toSet
    val rows = assigned.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getSeq[Double](2).toArray, r.getDouble(3)))
    assert(rows.length == Tables.load(spark, sfDir, "embeddings").count())
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val byCluster = rows.groupBy(_._2)
    val expectDropped = rows.filter { case (id, cid, v, csim) =>
      byCluster(cid).exists { case (id2, _, v2, csim2) =>
        id2 != id && cos(v, v2) >= 0.4 - 1e-12 &&
          (csim2 < csim || (csim2 == csim && id2 < id))
      }
    }.map(_._1).toSet
    // tolerance-free comparison would be brittle exactly AT tau;
    // the fixture's cosines are nowhere near 0.4 +- 1e-9, so exact
    // agreement is the honest assertion here
    assert(dropped == expectDropped,
      s"pruned=${dropped.size} expected=${expectDropped.size}")
    // partition sanity through the query surface
    val q = graft.operators.Dedup
      .queries("dedup_semantic_clusters")(spark, sfDir).collect()
    assert(q.map(_.getAs[Long]("n_members")).sum == rows.length)
    assert(q.map(_.getAs[Long]("n_dropped")).sum == dropped.size)
    assert(q.forall(r => r.getAs[Long]("n_kept") ==
      r.getAs[Long]("n_members") - r.getAs[Long]("n_dropped")))
  }

  test("SemDeDup collapses planted exact duplicates to one kept " +
      "representative and is bit-deterministic across runs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 40 mutually-orthogonal base vectors (cos = 0 between any two),
    // so the ONLY pairs above tau are the planted exact copies of
    // base ids 0..4 — each copy group must lose all but its
    // highest-priority member
    val base = (0L until 40L).map(i =>
      (i, Array.tabulate(40)(d => if (d == i.toInt) 1.0 else 0.0)))
    val copies = (0L until 5L).map(i => (1000L + i, base(i.toInt)._2))
    val vecs = (base ++ copies).toDF("vec_id", "embedding")
    val assigned = graft.operators.Dedup
      .semanticAssignmentsOf(spark, vecs, k = 4, iters = 3)
    val dropped = graft.operators.Dedup
      .semanticDropped(spark, assigned, tauPct = 99)
      .collect().map(_.getLong(0)).toSet
    // identical vectors land in the same cluster with identical csim;
    // the id tie-break keeps the smallest id of each duplicate group
    (0L until 5L).foreach { i =>
      assert(!dropped.contains(i), s"group representative $i pruned")
      assert(dropped.contains(1000L + i), s"exact copy of $i survived")
    }
    // determinism: decimal-summed centroids + rounded csim => the
    // whole assignment (ids, clusters, csim) is bit-equal on rerun
    val again = graft.operators.Dedup
      .semanticAssignmentsOf(spark, vecs, k = 4, iters = 3)
    assert(assigned.select("vec_id", "cid", "csim").orderBy("vec_id")
        .collect().toSeq ==
      again.select("vec_id", "cid", "csim").orderBy("vec_id")
        .collect().toSeq)
  }

  test("dedup_token_jaccard PPJoin form == the naive blocked " +
      "all-pairs form, pair-for-pair and score-for-score (the prefix " +
      "filter provably admits every true pair)") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val d = Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id", "lang", "source",
        "array_distinct(split(text, ' ')) AS toks")
    val a = d.select(col("doc_id").as("a_id"), col("lang"),
      col("source"), col("toks").as("a_toks"))
    val b = d.select(col("doc_id").as("b_id"), col("lang"),
      col("source"), col("toks").as("b_toks"))
    val naive = a.join(b, Seq("lang", "source"))
      .filter(col("a_id") < col("b_id"))
      .selectExpr("a_id", "b_id",
        "graft_jaccard(a_toks, b_toks) AS jaccard")
      .filter(col("jaccard") >= 0.8)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ppjoin = graft.operators.Dedup
      .queries("dedup_token_jaccard")(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ppjoin == naive,
      s"PPJoin diverged from naive: only-ppjoin=" +
        s"${(ppjoin -- naive).take(5)} only-naive=" +
        s"${(naive -- ppjoin).take(5)}")
    assert(naive.nonEmpty, "fixture produced no near-dup pairs")
  }
}
