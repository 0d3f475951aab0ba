package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("every text query runs") {
    TextAnalysis.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() >= 0, s"$name failed")
    }
  }

  test("splits partition the corpus ~80/10/10; samples bounded per lang") {
    val splits = TextAnalysis.queries("docs_split_counts")(spark, sfDir)
      .select("split", "n").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = splits.values.sum
    assert(total == Tables.load(spark, sfDir, "documents").count())
    assert(splits.keySet == Set("train", "val", "test"))
    val trainFrac = splits("train").toDouble / total
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train frac $trainFrac")
    val sample = TextAnalysis.queries("docs_sample_per_lang")(spark, sfDir)
      .select("lang", "rk").as[(String, Int)].collect()
    sample.groupBy(_._1).values.foreach { g =>
      assert(g.length <= 5)
      assert(g.map(_._2).sorted.toSeq == (1 to g.length))
    }
    // determinism: two runs give identical samples
    val again = TextAnalysis.queries("docs_sample_per_lang")(spark, sfDir)
      .select("lang", "rk").as[(String, Int)].collect()
    assert(sample.toSeq == again.toSeq)
  }

  test("curation funnel: monotone, covers corpus, every stage bites") {
    val rows = TextAnalysis.queries("docs_curation_funnel")(spark, sfDir)
      .select("n_docs", "n_after_dedup", "n_kept")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, d, k) =>
      assert(d <= n)
      assert(k <= d)
      assert(k >= 0)
    }
    val total = rows.map(_._1).sum
    assert(total == Tables.load(spark, sfDir, "documents").count())
    // corpus-level: prefix dedup and quality gating each drop something
    assert(rows.map(_._2).sum < total)
    assert(rows.map(_._3).sum < rows.map(_._2).sum)
  }

  test("token stats: every language covered, totals positive") {
    val rows = TextAnalysis.queries("text_token_stats")(spark, sfDir)
      .select("lang", "n_docs", "total_toks").as[(String, Long, Long)]
      .collect()
    assert(rows.map(_._1).toSet == Set("de", "en", "es", "fr", "zh"))
    assert(rows.forall(r => r._2 > 0 && r._3 > 0))
    val totalDocs = rows.map(_._2).sum
    assert(totalDocs == Tables.load(spark, sfDir, "documents").count())
  }

  test("quality scores bounded in [0, 1]") {
    val q = TextAnalysis.queries("text_quality_scores")(spark, sfDir)
      .select("quality").as[Double].collect()
    assert(q.nonEmpty)
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("fingerprints: one per doc, stable across runs") {
    val fp1 = TextAnalysis.queries("doc_fingerprints")(spark, sfDir)
      .as[(Long, Long)].collect()
    val fp2 = TextAnalysis.queries("doc_fingerprints")(spark, sfDir)
      .as[(Long, Long)].collect()
    assert(fp1.toSeq == fp2.toSeq)
    assert(fp1.length ==
      Tables.load(spark, sfDir, "documents").count())
  }

  test("term counts: top terms dominated by corpus vocabulary") {
    val rows = TextAnalysis.queries("term_counts")(spark, sfDir)
      .as[(String, Long)].collect()
    assert(rows.length == 20)
    // descending with tie-break
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-_).toSeq)
  }

  test("lang-id confusion counts partition the corpus") {
    val n = TextAnalysis.queries("text_lang_id")(spark, sfDir)
      .agg(sum("n")).as[Long].collect()(0)
    assert(n == Tables.load(spark, sfDir, "documents").count())
  }

  test("decontamination: covers all train docs; fixture eval dupes flagged") {
    val rows = TextAnalysis.queries("docs_decontaminate")(spark, sfDir)
      .select("doc_id", "n_shingles", "n_overlap", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect()
    val nTrain = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 97 =!= 0).count()
    assert(rows.length == nTrain) // clean docs are reported too
    rows.foreach { case (id, nSh, nOv, c) =>
      assert(id % 97 != 0)
      assert(nSh >= 1)
      assert(nOv >= 0 && nOv <= nSh)
      assert(c == (nOv >= 1))
    }
    // the sf0.001 fixture contains eval-doc duplicates => non-vacuous
    assert(rows.count(_._4) >= 1, "no contaminated doc found in fixture")
  }

  test("decontamination size guard: the eval join is size-chosen, not " +
      "hint-forced — identical rows whether it broadcasts or shuffles") {
    def run() = TextAnalysis.queries("docs_decontaminate")(spark, sfDir)
      .select("doc_id", "n_shingles", "n_overlap", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val viaBroadcast = run()
    // simulate a corpus-sized eval set by disabling the broadcast
    // thresholds (static + AQE): a mandatory hint would ignore this;
    // the guard degrades the plan to a keyed shuffle join instead
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val df = TextAnalysis.queries("docs_decontaminate")(spark, sfDir)
      val viaShuffle = df
        .select("doc_id", "n_shingles", "n_overlap", "contaminated")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"eval join must degrade to a shuffle join when oversized:\n" +
          plan.take(2000))
      assert(viaShuffle == viaBroadcast,
        "join strategy must never change decontamination results")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("domain mixture: deterministic, bounded, and actually biting") {
    val rows = TextAnalysis.queries("docs_domain_mixture")(spark, sfDir)
      .select("source", "rate", "n_docs", "n_sampled", "achieved")
      .as[(String, Int, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, rate, n, k, achieved) =>
      assert(rate >= 20 && rate <= 80)
      assert(k >= 0 && k <= n)
      assert(achieved == k.toDouble / n)
    }
    // the mixture must actually subsample somewhere (not keep all docs)
    assert(rows.exists { case (_, _, n, k, _) => k < n })
    // determinism: identical selection on a rerun
    val again = TextAnalysis.queries("docs_domain_mixture")(spark, sfDir)
      .select("source", "n_sampled").as[(String, Long)].collect().toMap
    rows.foreach { case (src, _, _, k, _) => assert(again(src) == k) }
  }

  test("repetition stats: ratios bounded, flag matches threshold, " +
      "fixture boilerplate flagged") {
    val rows = TextAnalysis.queries("docs_repetition_stats")(spark, sfDir)
      .select("doc_id", "n_bigrams", "max_rep", "rep_ratio",
        "is_repetitive")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(rows.length ==
      Tables.load(spark, sfDir, "documents").count())
    rows.foreach { case (_, n, mx, ratio, rep) =>
      assert(mx >= 1 && mx <= n)
      assert(ratio == mx.toDouble / n)
      assert(rep == (ratio >= 0.08))
    }
    assert(rows.exists(_._5), "no repetitive doc found in fixture")
    assert(rows.exists(!_._5), "every doc flagged — threshold vacuous")
  }

  test("packing: bins contiguous, token-conserving, fill = tokens/1024") {
    val rows = TextAnalysis.queries("docs_pack_greedy")(spark, sfDir)
      .select("lang", "split", "seq_id", "n_docs", "seq_tokens",
        "fill_ratio")
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, nDocs, toks, fill) =>
      assert(nDocs >= 1)
      assert(fill == toks.toDouble / 1024)
    }
    // per (lang, split): seq ids are 0..max with no holes, and the
    // binned token total equals the stream's token total
    rows.groupBy(r => (r._1, r._2)).foreach { case ((lang, split), g) =>
      val ids = g.map(_._3).sorted.toSeq
      assert(ids == (0L to ids.max), s"holes in $lang/$split: $ids")
    }
    val binned = rows.map(_._5).sum
    val total = Tables.load(spark, sfDir, "documents")
      .selectExpr("size(split(text, ' ')) AS n").agg(sum("n"))
      .as[Long].collect()(0)
    assert(binned == total)
  }

  test("BPE training: hand-derived merges on a planted word table, " +
      "segmentation round-trips, and subword counts shrink " +
      "monotonically with the merge budget") {
    import graft.operators.TextAnalysis.{bpeTrain, bpeSegment}
    // "abab"x2 + "ab"x3: (a,b) dominates (count 7), then the merged
    // symbol pairs with itself — derivable by hand
    val planted = Seq(("abab", 2L), ("ab", 3L))
    assert(bpeTrain(planted, 5) == Seq(("a", "b"), ("ab", "ab")),
      "hand-derived merge sequence")
    // tie-break: equal-count pairs resolve lexicographically
    assert(bpeTrain(Seq(("ba", 1L), ("ab", 1L)), 1) ==
      Seq(("a", "b")))
    // segmentation is lossless and consistent with training's end
    // state on every trained word
    val words = Seq(("hello", 4L), ("help", 3L), ("hull", 2L),
      ("pool", 2L), ("loop", 1L))
    val merges = bpeTrain(words, 6)
    words.foreach { case (w, _) =>
      val seg = bpeSegment(w, merges)
      assert(seg.mkString == w, s"lossy segmentation of $w: $seg")
    }
    // more merges never increase the corpus subword total
    val totals = Seq(0, 2, 4, 6).map { n =>
      val m = bpeTrain(words, n)
      words.map { case (w, c) => bpeSegment(w, m).length * c }.sum
    }
    assert(totals == totals.sorted.reverse,
      s"subword totals must be non-increasing in merges: $totals")
  }

  test("text_bpe_vocab_stats: per-lang subword stats under the " +
      "corpus-trained vocabulary, deterministic across runs") {
    val q = graft.operators.TextAnalysis
      .queries("text_bpe_vocab_stats")
    val a = q(spark, sfDir).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      val perTok = r.getAs[Double]("subwords_per_token")
      assert(perTok >= 1.0 - 1e-9,
        "a token cannot segment into fewer than 1 subword")
      assert(r.getAs[Long]("n_subwords") >= r.getAs[Long]("n_tokens"))
    }
    val b = q(spark, sfDir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "trained-BPE stats must be bit-deterministic")
  }

  test("pii redact: counts follow construction, redaction is total") {
    val rows = TextAnalysis.queries("docs_pii_redact")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // the synthetic grafting rules ARE the expected counts
      assert(r.getAs[Long]("n_email") == (if (id % 3 == 0) 0L else 2L))
      assert(r.getAs[Long]("n_card") == (if (id % 5 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_phone") == (if (id % 2 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_ip") == 1L)
      assert(r.getAs[Long]("chars_redacted") > 0L ||
        (id % 3 == 0 && id % 5 != 0 && id % 2 != 0))
    }
    // redaction is TOTAL and the placeholders landed: re-scanning the
    // redacted text with every pattern finds nothing, in-plan over
    // the whole corpus
    val red = TextAnalysis.piiRedactedDocs(spark, sfDir)
    val leftover = red.filter(
      regexp_count(col("red"), lit(TextAnalysis.piiEmailRe)) > 0 ||
      regexp_count(col("red"), lit(TextAnalysis.piiCardRe)) > 0 ||
      regexp_count(col("red"), lit(TextAnalysis.piiPhoneRe)) > 0 ||
      regexp_count(col("red"), lit(TextAnalysis.piiIpRe)) > 0).count()
    assert(leftover == 0L, s"$leftover docs still carry PII patterns")
    val placed = red.filter(col("red").contains("<IP>")).count()
    assert(placed == red.count(), "every doc grafts an IP, so every " +
      "redacted doc must carry the <IP> placeholder")
  }

  test("quality classifier: training descends the loss, beats the " +
      "majority baseline clearly, and the model is bit-deterministic") {
    import graft.operators.TextAnalysis._
    val (feats, labels) = lrFeatures(spark, sfDir)
    val data = feats.join(labels, Seq("doc_id"))
    val log = scala.collection.mutable.Buffer[Double]()
    val (w, bias) = trainLogistic(spark, data, 1024,
      iters = 25, lr = 3.0, trainCap = 2048, lossLog = log)
    // log-loss: far below both the initial value and the entropy of
    // the base rate (Adagrad's warmup overshoots around iteration 3
    // before the accumulator bites, so assert the endpoints, not
    // monotonicity)
    assert(log.last < 0.55 && log.last < log.head,
      s"loss ${log.head} -> ${log.last}")
    // held-in accuracy must clearly beat always-predict-majority
    val out = queries("text_quality_classifier")(spark, sfDir)
    val agg = out.selectExpr(
      "avg(CAST(CASE WHEN label = predicted THEN 1.0 ELSE 0.0 END " +
        "AS DOUBLE)) AS acc",
      "avg(CAST(label AS DOUBLE)) AS base").collect()(0)
    val majority = math.max(agg.getDouble(1), 1.0 - agg.getDouble(1))
    assert(agg.getDouble(0) > majority + 0.1,
      f"accuracy ${agg.getDouble(0)}%.3f vs majority $majority%.3f")
    // determinism: same data, same model, bit for bit
    val (w2, bias2) = trainLogistic(spark, data, 1024,
      iters = 25, lr = 3.0, trainCap = 2048)
    assert(w.toSeq == w2.toSeq && bias == bias2)
  }

  test("exact dup spans: per-doc max equals brute-force suffix " +
      "comparison (capped at L=16), and the scan is deterministic") {
    val q = TextAnalysis.queries("docs_exact_dup_spans")
    val got = q(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent O(n²·L) ground truth on a bounded slice: for each
    // of the first 25 docs, the true max cross-doc LCP over ALL
    // suffix pairs against the WHOLE corpus
    val all = Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' ')).toMap
    val probe = all.keys.toSeq.sorted.take(25)
    probe.foreach { a =>
      val ta = all(a)
      var best = 0
      all.foreach { case (b, tb) =>
        if (b != a) {
          var i = 0
          while (i < ta.length) {
            var j = 0
            while (j < tb.length) {
              var l = 0
              while (l < 16 && i + l < ta.length && j + l < tb.length &&
                ta(i + l) == tb(j + l)) l += 1
              if (l > best) best = l
              j += 1
            }
            i += 1
          }
        }
      }
      assert(got(a) == best.toLong,
        s"doc $a: scan says ${got(a)}, brute force says $best")
    }
    // determinism across runs (range-partition boundaries must not
    // change the enumerated adjacency set)
    val again = q(spark, sfDir).collect()
    assert(q(spark, sfDir).collect().map(_.toSeq).toSeq ==
      again.map(_.toSeq).toSeq)
  }

  test("dsir: selection enriches the target domain and is " +
      "bit-deterministic; bucket model covers every n-gram") {
    val sel = TextAnalysis.queries("docs_dsir_sample")(spark, sfDir)
    val a = sel.collect()
    assert(a.length == 200)
    // targeting: the selected fraction of lang='en' docs must beat
    // the corpus base rate — importance weights that do not enrich
    // the target distribution are not importance weights
    val d = Tables.load(spark, sfDir, "documents")
    val baseRate = d.filter(col("lang") === "en").count().toDouble /
      d.count()
    val selRate = a.count(_.getString(1) == "en").toDouble / a.length
    assert(selRate > baseRate,
      f"selected en-rate $selRate%.3f must exceed base $baseRate%.3f")
    // determinism: same model, same weights, same sample
    val b = TextAnalysis.queries("docs_dsir_sample")(spark, sfDir)
      .collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // the oracled bucket histogram accounts for every n-gram
    // occurrence: Σ n_raw == total unigrams + bigrams
    val buckets = TextAnalysis.queries("docs_dsir_buckets")(spark, sfDir)
    val nRaw = buckets.agg(sum("n_raw")).collect()(0).getLong(0)
    val expected = d.filter(col("text").isNotNull)
      .selectExpr("size(split(text, ' ')) AS n")
      .selectExpr("CASE WHEN n < 2 THEN n ELSE 2 * n - 1 END AS c")
      .agg(sum("c")).collect()(0).getLong(0)
    assert(nRaw == expected,
      s"bucket mass $nRaw != n-gram occurrences $expected")
  }

  test("stupid-backoff LM: tiers and scores match an independent " +
      "hand-rolled scorer on a planted corpus, bit for bit") {
    // planted corpus: en model sees two docs; doc 3 (de) shares some
    // n-grams and backs off on others; doc 4 is pure OOV
    val planted = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat ate the fish", "en"),
      (3L, "quietly the cat sat mat here", "de"),
      (4L, "zzz yyy xxx www", "xx")
    ).toDF("doc_id", "text", "lang")

    // independent reimplementation (plain Scala maps)
    val docsMap = Map(
      1L -> "the cat sat on the mat", 2L -> "the cat ate the fish",
      3L -> "quietly the cat sat mat here", 4L -> "zzz yyy xxx www")
    val langs = Map(1L -> "en", 2L -> "en", 3L -> "de", 4L -> "xx")
    val enToks = docsMap.filter(kv => langs(kv._1) == "en")
      .values.map(_.split(' ').toSeq)
    def sliding3(t: Seq[String]) = t.sliding(3).filter(_.size == 3).toSeq
    val c3 = enToks.flatMap(sliding3).groupBy(identity)
      .view.mapValues(_.size).toMap
    val c2 = enToks.flatMap(_.sliding(2).filter(_.size == 2))
      .groupBy(identity).view.mapValues(_.size).toMap
    val c1 = enToks.flatten.groupBy(identity).view.mapValues(_.size)
      .toMap
    val n = enToks.map(_.size).sum
    def score(tri: Seq[String]): Double = {
      val Seq(w1, w2, w3) = tri
      if (c3.contains(Seq(w1, w2, w3)))
        math.log(c3(Seq(w1, w2, w3)).toDouble / c2(Seq(w1, w2)))
      else if (c2.contains(Seq(w2, w3)))
        math.log(0.4 * c2(Seq(w2, w3)).toDouble / c1(w2))
      else if (c1.contains(w3))
        math.log(0.16 * c1(w3).toDouble / n)
      else math.log(0.16 / n)
    }
    val wantScores = docsMap.map { case (id, text) =>
      val tris = sliding3(text.split(' ').toSeq)
      val s = tris.map(score).sum / tris.size
      id -> BigDecimal(s).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val wantTiers = docsMap.map { case (id, text) =>
      val tris = sliding3(text.split(' ').toSeq)
      id -> (tris.size.toLong,
        tris.count(t => c3.contains(t)).toLong,
        tris.count(t => !c3.contains(t) &&
          c2.contains(t.drop(1))).toLong,
        tris.count(t => !c3.contains(t) && !c2.contains(t.drop(1)) &&
          c1.contains(t(2))).toLong,
        tris.count(t => !c3.contains(t) && !c2.contains(t.drop(1)) &&
          !c1.contains(t(2))).toLong)
    }

    val gotTiers = TextAnalysis.lmTiers(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(gotTiers == wantTiers,
      s"tiers\n got $gotTiers\nwant $wantTiers")
    // sanity of the plant itself: every tier is exercised somewhere
    val tierSums = gotTiers.values
      .foldLeft((0L, 0L, 0L, 0L))((a, t) =>
        (a._1 + t._2, a._2 + t._3, a._3 + t._4, a._4 + t._5))
    assert(tierSums._1 > 0 && tierSums._2 > 0 && tierSums._3 > 0 &&
      tierSums._4 > 0, s"plant must hit all four tiers: $tierSums")

    val gotScores = TextAnalysis.lmScores(planted).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(gotScores == wantScores,
      s"scores\n got $gotScores\nwant $wantScores")
  }

  test("LM score filter targets the model domain and is " +
      "deterministic across runs") {
    val a = TextAnalysis.queries("text_lm_score_sample")(spark, sfDir)
      .collect()
    val d = Tables.load(spark, sfDir, "documents")
    // the en-trained LM must rank en docs into the kept sample ABOVE
    // the corpus base rate — the CCNet filtering property
    val baseRate = d.filter(col("lang") === "en").count().toDouble /
      d.count()
    val selRate = a.count(_.getString(1) == "en").toDouble / a.length
    assert(selRate > baseRate,
      f"kept en-rate $selRate%.3f must exceed base $baseRate%.3f")
    val b = TextAnalysis.queries("text_lm_score_sample")(spark, sfDir)
      .collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "LM scoring must be bit-deterministic")
  }

  test("suffix-automaton longest-repeated-substring is EXACT: equals " +
      "the O(n^2) brute force on randomized strings (small alphabets " +
      "force deep repeats and clone-heavy automata), handles the " +
      "degenerate shapes, and runs inside whole-stage codegen") {
    import org.apache.spark.unsafe.types.UTF8String
    def lrs(s: String): Int =
      graft.functions.Lrs.longestRepeated(UTF8String.fromString(s))
    def brute(s: String): Int = {
      val cps = s.codePoints().toArray
      val n = cps.length
      var best = 0
      val seen = scala.collection.mutable.HashSet.empty[Seq[Int]]
      for (len <- 1 to n - 1) {
        seen.clear()
        var found = false
        for (i <- 0 to n - len)
          if (!seen.add(cps.slice(i, i + len).toSeq)) found = true
        if (found) best = len
      }
      best
    }
    // degenerate shapes
    assert(lrs("") == 0 && lrs("a") == 0 && lrs("ab") == 0)
    assert(lrs("aa") == 1)
    assert(lrs("aaaa") == 3)   // "aaa" occurs at positions 0 and 1
    assert(lrs("abcabc") == 3)
    assert(lrs("banana") == 3) // "ana"
    // surrogate pairs count as ONE code point, matching SQL length
    assert(lrs("😀😀") == 1)
    // randomized cross-check: binary + ternary alphabets maximize
    // repeat depth; a wider alphabet exercises sparse transitions
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 200) {
      val alpha = Seq("ab", "abc", "abcdefgh")(trial % 3)
      val len = 1 + rnd.nextInt(60)
      val s = Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
      assert(lrs(s) == brute(s), s"mismatch on '$s'")
    }
    // through SQL + codegen, against the same brute force
    graft.functions.GraftFunctions.register(spark)
    val strs = Seq.tabulate(50)(i =>
      (i.toLong, Seq.fill(30 + i)("ab"(rnd.nextInt(2))).mkString))
    val got = strs.toDF("id", "s")
      .selectExpr("id", "graft_lrs(s) AS l").orderBy("id")
      .as[(Long, Int)].collect()
    strs.zip(got).foreach { case ((_, s), (_, l)) =>
      assert(l == brute(s), s"codegen path mismatch on '$s'")
    }
  }
}
