package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.EventAnalytics

/** Property-based invariants (SURVEY.md §5.4): ∀-style laws over
  * ScalaCheck-generated data, sampled deterministically (fixed seeds) and
  * asserted through ScalaTest — no scalatest-scalacheck bridge needed. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val evGen: Gen[List[(Long, Long, String, Double)]] =
    Gen.nonEmptyListOf(for {
      id <- Gen.choose(0L, 10000L)
      user <- Gen.choose(0L, 20L)
      typ <- Gen.oneOf("click", "view", "purchase", "signup", "error", "zzz")
      v <- Gen.choose(0.0, 500.0)
    } yield (id, user, typ, math.round(v * 100) / 100.0))

  test("∀ event sets: per-type counts partition the total (A2 vs A1)") {
    samples(evGen, 8).foreach { rows =>
      val df = rows.toDF("event_id", "user_id", "event_type", "value")
      val total = df.count()
      val byType = df.groupBy("event_type").count()
        .agg(sum("count")).as[Long].collect()(0)
      assert(byType == total, s"partition violated for ${rows.size} rows")
    }
  }

  test("∀ event sets: top-k is a prefix of the fully sorted aggregation") {
    samples(evGen, 8).foreach { rows =>
      val df = rows.toDF("event_id", "user_id", "event_type", "value")
      val full = df.groupBy("user_id").count()
        .orderBy(desc("count"), asc("user_id"))
        .as[(Long, Long)].collect().toSeq
      val k = math.min(3, full.length)
      val topk = df.groupBy("user_id").count()
        .orderBy(desc("count"), asc("user_id")).limit(k)
        .as[(Long, Long)].collect().toSeq
      assert(topk == full.take(k))
    }
  }

  test("∀ event sets: pagination pages partition the ordered result") {
    samples(evGen, 4).foreach { rows =>
      val df = rows.toDF("event_id", "user_id", "event_type", "value")
        .dropDuplicates("event_id")
      val sorted = df.orderBy(desc("value"), asc("event_id"))
        .select("event_id").as[Long].collect().toSeq
      val pages = sorted.indices.grouped(5).toSeq.map { idx =>
        df.orderBy(desc("value"), asc("event_id"))
          .select("event_id").as[Long]
          .offset(idx.head).limit(idx.length).collect().toSeq
      }
      assert(pages.flatten == sorted)
    }
  }

  test("∀ strings: categorize is total (never null, known range)") {
    val cats = Set("commerce", "account", "engagement", "system", "other")
    samples(Gen.listOfN(20, Gen.alphaStr), 8).foreach { types =>
      val out = types.toDF("event_type")
        .select(EventAnalytics.categorize(col("event_type")).as("c"))
        .as[String].collect()
      assert(out.forall(cats.contains))
    }
  }

  test("∀ token lists: graft_jaccard ≡ size(intersect)/size(union), " +
    "bit-for-bit, incl. duplicates and empties") {
    graft.functions.GraftFunctions.register(spark)
    val tokGen = Gen.listOf(Gen.oneOf(('a' to 'f').map(_.toString)))
    samples(Gen.zip(tokGen, tokGen), 20).foreach { case (a, b) =>
      def frame = Seq((a, b)).toDF("a", "b")
        .selectExpr("graft_jaccard(a, b) AS native",
          "CAST(size(array_intersect(a, b)) AS DOUBLE)" +
            " / size(array_union(a, b)) AS hof")
      if (a.isEmpty && b.isEmpty) {
        // empty union: the session is ANSI (Spark 4 default), so the
        // HOF divide — and the rewrite standing in for it, which
        // captures the mode — must THROW like ANSI Divide does, while
        // the registered graft_jaccard function keeps its documented
        // NULL contract.
        val ex = intercept[Exception] { frame.collect() }
        def all(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: all(t.getCause)
        assert(all(ex).exists(_.isInstanceOf[ArithmeticException]),
          s"expected divide-by-zero, got $ex")
        val direct = Seq((a, b)).toDF("a", "b")
          .selectExpr("graft_jaccard(a, b) AS native").collect()(0)
        assert(direct.isNullAt(0), "graft_jaccard contract is NULL")
      } else {
        val r = frame.collect()(0)
        assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch a=$a b=$b")
        if (!r.isNullAt(0))
          assert(r.getDouble(0) == r.getDouble(1),
            s"native=${r.getDouble(0)} hof=${r.getDouble(1)} a=$a b=$b")
      }
    }
  }

  test("∀ strings: graft_bpe_count ≡ regexp_count(text, '[^ ]{1,4}')") {
    graft.functions.GraftFunctions.register(spark)
    // unicode (incl. multi-byte), runs of spaces, empty strings, long
    // tokens — the byte-pass count must equal the regex count always
    val charGen = Gen.frequency(
      (5, Gen.alphaNumChar.map(_.toString)),
      (3, Gen.const(" ")),
      (1, Gen.oneOf("é", "ß", "日", "本", "🙂"))) // 🙂 = 4-byte code point
    val strGen = Gen.listOf(charGen).map(_.mkString)
    samples(strGen, 40).foreach { s =>
      val r = Seq(Tuple1(s)).toDF("t")
        .selectExpr("graft_bpe_count(t, 4) AS native",
          "regexp_count(t, '[^ ]{1,4}') AS regex")
        .collect()(0)
      assert(r.getInt(0) == r.getInt(1),
        s"native=${r.getInt(0)} regex=${r.getInt(1)} for ${s.take(80)}")
    }
  }

  test("jaccard null/empty-string elements match array_intersect/union " +
    "set semantics (null is its own member)") {
    graft.functions.GraftFunctions.register(spark)
    // (a, b, expected |∩|/|∪|): null and "" are DIFFERENT members
    val cases = Seq(
      (Seq(Some("x"), None), Seq(Some("x"), None), 1.0),        // {x,∅}={x,∅}
      (Seq(Some(""), None), Seq(Some("")), 0.5),                // {"",∅}∩{""}
      (Seq(None), Seq(Some("")), 0.0),                          // {∅} vs {""}
      (Seq(Some("x"), None), Seq(Some("x")), 0.5))
    cases.foreach { case (a, b, want) =>
      val got = Seq((a, b)).toDF("a", "b")
        .selectExpr("graft_jaccard(a, b) AS j").collect()(0)
      assert(!got.isNullAt(0) && got.getDouble(0) == want,
        s"a=$a b=$b want=$want got=$got")
    }
  }

  test("∀ token lists: sorted-hash jaccard ≡ string-set jaccard") {
    graft.functions.GraftFunctions.register(spark)
    val tokGen = Gen.listOf(Gen.oneOf(('a' to 'h').map(_.toString)))
    samples(Gen.zip(tokGen, tokGen), 20).foreach { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b")
        .selectExpr(
          "graft_jaccard(array_distinct(a), array_distinct(b)) AS str",
          "graft_jaccard_sorted(" +
            "sort_array(array_distinct(transform(a, t -> xxhash64(t)))), " +
            "sort_array(array_distinct(transform(b, t -> xxhash64(t))))) " +
            "AS hashed")
        .collect()(0)
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch a=$a b=$b")
      if (!r.isNullAt(0))
        assert(r.getDouble(0) == r.getDouble(1),
          s"str=${r.getDouble(0)} hashed=${r.getDouble(1)} a=$a b=$b")
    }
  }

  test("∀ value streams: HLL estimate within 4-sigma of exact distinct") {
    graft.functions.GraftFunctions.register(spark)
    val gen = Gen.nonEmptyListOf(Gen.choose(0L, 5000L))
    samples(gen, 6).foreach { vs =>
      val df = vs.toDF("v")
      val r = df.agg(expr("graft_hll(v)").as("est"),
        countDistinct(col("v")).as("exact")).collect()(0)
      val (est, exact) = (r.getAs[Long]("est").toDouble,
        r.getAs[Long]("exact").toDouble)
      // p=12: rel err ~1.04/sqrt(4096)=1.6%; linear counting exact at
      // these sizes — allow a loose 7% for small-n noise
      assert(math.abs(est - exact) / exact <= 0.07,
        s"est=$est exact=$exact n=${vs.size}")
    }
  }

  test("∀ item streams: MG topk never overestimates, bounded undercount") {
    graft.functions.GraftFunctions.register(spark)
    val gen = Gen.nonEmptyListOf(Gen.choose(0L, 30L))
    samples(gen, 6).foreach { vs =>
      val df = vs.toDF("v")
      val exact = vs.groupBy(identity).map { case (k, g) =>
        k -> g.size.toLong }
      val k = 8
      val sk = df.agg(expr(s"graft_topk(v, $k)").as("tk"))
        .selectExpr("inline(tk)").as[(Long, Long)].collect().toMap
      assert(sk.size <= k)
      val n = vs.size
      sk.foreach { case (item, est) =>
        assert(est <= exact(item), s"overestimate on $item")
        assert(exact(item) - est <= n / (k + 1) + 1,
          s"undercount bound broken on $item")
      }
      exact.filter(_._2 > n / (k + 1)).keys.foreach(i =>
        assert(sk.contains(i), s"heavy hitter $i missing (n=$n)"))
    }
  }

  test("∀ token lists: minhash signature estimates Jaccard within bounds") {
    graft.functions.GraftFunctions.register(spark)
    val tokGen = Gen.nonEmptyListOf(Gen.oneOf(('a' to 'z').map(_.toString)))
    samples(Gen.zip(tokGen, tokGen), 10).foreach { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b")
        .selectExpr(
          "graft_minhash(a, 64, 1) AS sa",
          "graft_minhash(b, 64, 1) AS sb",
          "CAST(size(array_intersect(array_distinct(a), array_distinct(b)))" +
            " AS DOUBLE) / size(array_union(a, b)) AS j")
        .selectExpr("j",
          "CAST(size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v))" +
            " AS DOUBLE) / 64 AS est")
        .collect()(0)
      // 64 perms: std err = sqrt(j(1-j)/64) <= 0.0625; allow 4 sigma
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.25,
        s"j=${r.getDouble(0)} est=${r.getDouble(1)} a=$a b=$b")
    }
  }

  // ---- differential tests: the round-4 curation operators compared
  // against from-scratch Scala reimplementations over random corpora
  // (the fixture exercises one data shape; these exercise many) ----

  /** Random corpus written as a documents.parquet dir the operators can
    * read; ids are dense 0..n-1 so doc 0 is always an eval doc
    * (0 % 97 == 0), and a verbatim-embedding of doc 0's text is planted
    * at id 1 to guarantee contamination exists. */
  private def writeCorpus(rows: Seq[(Long, String, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-prop").toFile
    tmp.deleteOnExit()
    rows.map { case (id, text, lang) =>
      (id, text, lang, "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(s"${tmp.getAbsolutePath}/documents.parquet")
    tmp.getAbsolutePath
  }

  private val corpusGen: Gen[Seq[(Long, String, String)]] = for {
    n <- Gen.choose(4, 40)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 24)
      toks <- Gen.listOfN(len, Gen.oneOf(
        "tok1", "tok2", "tok3", "tok4", "tok5", "tok6"))
      lang <- Gen.oneOf("en", "de")
    } yield (toks.mkString(" "), lang))
  } yield docs.zipWithIndex.map { case ((text, lang), i) =>
    // verbatim copy of doc 0 (same shingle set at ANY length; an
    // embedding would miss when doc 0 is shorter than one shingle)
    val planted = if (i == 1) docs.head._1 else text
    (i.toLong, planted, lang)
  }

  test("∀ corpora: decontamination ≡ scala-set reimplementation") {
    def shingles(text: String): Set[String] = {
      val t = text.split(' ').toSeq
      if (t.length < 8) Set(t.mkString(" "))
      else t.sliding(8).map(_.mkString(" ")).toSet
    }
    samples(corpusGen, 4).foreach { rows =>
      val dir = writeCorpus(rows)
      val got = graft.operators.TextAnalysis.queries("docs_decontaminate")(
        spark, dir)
        .select("doc_id", "n_shingles", "n_overlap", "contaminated")
        .as[(Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val evalSh = rows.filter(_._1 % 97 == 0)
        .flatMap(r => shingles(r._2)).toSet
      val want = rows.filter(_._1 % 97 != 0).map { case (id, text, _) =>
        val sh = shingles(text)
        val ov = (sh & evalSh).size.toLong
        id -> ((sh.size.toLong, ov, ov >= 1))
      }.toMap
      assert(got == want, s"diff for corpus of ${rows.size} docs")
      assert(want.values.exists(_._3), "planted contamination missing")
    }
  }

  test("∀ event sets: funnel ≡ scala chained-min reimplementation") {
    // random events written as a Tables.load-compatible events.parquet
    // (int64 nanos ts, like the fixture); timestamps straddle the
    // funnel's 2024-01-03 window cutoff so the window boundary and the
    // after-previous-step guard both get exercised
    val baseNs = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000000L
    val evGen2: Gen[List[(Long, Long, String, Long)]] =
      Gen.nonEmptyListOf(for {
        user <- Gen.choose(0L, 5L)
        typ <- Gen.oneOf("view", "click", "purchase", "error")
        hours <- Gen.choose(0L, 96L) // 4 days; cutoff at 48h
      } yield (user, hours, typ, baseNs + hours * 3600L * 1000000000L))
        .map(_.zipWithIndex.map { case ((u, _, t, ns), i) =>
          (i.toLong, u, t, ns)
        })
    samples(evGen2, 6).foreach { rows =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-funnel")
      tmp.toFile.deleteOnExit()
      rows.map { case (id, u, t, ns) => (id, ns, u, t, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val got = graft.operators.EventAnalytics.queries("events_funnel")(
        spark, tmp.toString)
        .select("reached", "n_users").as[(Int, Long)].collect().toMap
      // scala reimpl: µs-truncated, window < 2024-01-03, chained mins
      val cutUs = baseNs / 1000L + 48L * 3600L * 1000000L
      val byUser = rows.map { case (_, u, t, ns) => (u, t, ns / 1000L) }
        .filter(_._3 < cutUs).groupBy(_._1)
      val want = byUser.toSeq.flatMap { case (_, es) =>
        def minAfter(typ: String, after: Long): Option[Long] = {
          val c = es.filter(e => e._2 == typ && e._3 > after).map(_._3)
          if (c.isEmpty) None else Some(c.min)
        }
        val t1 = es.filter(_._2 == "view").map(_._3)
          .reduceOption(_ min _)
        t1.map { v =>
          val t2 = minAfter("click", v)
          val t3 = t2.flatMap(minAfter("purchase", _))
          1 + t2.size + t3.size
        }
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, s"funnel diff for ${rows.size} events")
    }
  }

  test("∀ corpora: repetition stats ≡ scala bigram-count reimplementation") {
    samples(corpusGen, 4).foreach { rows =>
      val dir = writeCorpus(rows)
      val got = graft.operators.TextAnalysis.queries(
        "docs_repetition_stats")(spark, dir)
        .select("doc_id", "n_bigrams", "max_rep")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = rows.map { case (id, text, _) =>
        val t = text.split(' ').toSeq
        val bgs = if (t.length < 2) Seq(t.mkString(" "))
          else t.sliding(2).map(_.mkString(" ")).toSeq
        val byBg = bgs.groupBy(identity).view.mapValues(_.size.toLong)
        id -> ((bgs.size.toLong, byBg.values.max))
      }.toMap
      assert(got == want, s"diff for corpus of ${rows.size} docs")
    }
  }

  test("∀ corpora: domain mixture ≡ scala hash-threshold reimplementation") {
    def hashOf(id: Long): Long =
      ((id % 1000003L) * 2654435761L) % 4294967296L % 100L
    samples(corpusGen, 4).foreach { rows =>
      val dir = writeCorpus(rows)
      val got = graft.operators.TextAnalysis.queries("docs_domain_mixture")(
        spark, dir)
        .select("source", "rate", "n_docs", "n_sampled")
        .as[(String, Int, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // all corpus docs share source "src0" => rate from its numeral
      val rate = 20 + 5 * (0 % 13)
      val sampled = rows.count { case (id, _, _) => hashOf(id) < rate }
      assert(got == Map("src0" -> ((rate, rows.size.toLong,
        sampled.toLong))))
    }
  }

  test("∀ corpora: sequence packing ≡ scala running-sum reimplementation") {
    def splitOf(id: Long): String = {
      val h = ((id % 1000003L) * 2654435761L) % 4294967296L % 100L
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    samples(corpusGen, 4).foreach { rows =>
      val dir = writeCorpus(rows)
      val got = graft.operators.TextAnalysis.queries("docs_pack_greedy")(
        spark, dir)
        .select("lang", "split", "seq_id", "n_docs", "seq_tokens")
        .as[(String, String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2, r._3) -> ((r._4, r._5))).toMap
      val want = rows
        .map { case (id, text, lang) =>
          (lang, splitOf(id), id, text.split(' ').length.toLong)
        }
        .groupBy(r => (r._1, r._2)).toSeq.flatMap {
          case ((lang, split), g) =>
            var cum = 0L
            g.sortBy(_._3).map { case (_, _, _, n) =>
              cum += n
              ((lang, split, cum / 1024L), n)
            }
        }
        .groupBy(_._1).map { case (k, vs) =>
          k -> ((vs.size.toLong, vs.map(_._2).sum))
        }
      assert(got == want, s"diff for corpus of ${rows.size} docs")
    }
  }

  test("∀ tables+updates: snapshot merge ≡ scala map upsert, and " +
      "diff(pre, post) recovers exactly the net change") {
    import graft.sources.SnapshotTable
    val tableGen: Gen[List[(Long, String)]] = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0L, 30L)
      v <- Gen.oneOf("a", "b", "c", "d")
    } yield (k, v))
    samples(tableGen.flatMap(base => tableGen.map(upd => (base, upd))), 4)
      .foreach { case (baseRows, updRows) =>
        // one row per key on both sides (merge semantics are keyed)
        val base = baseRows.toMap.toSeq
        val upd = updRows.toMap.toSeq
        val root = java.nio.file.Files
          .createTempDirectory("graft-snap-prop").toString + "/t"
        SnapshotTable.commit(spark, root, base.toDF("k", "v"))
        SnapshotTable.merge(spark, root, upd.toDF("k", "v"), "k")
        val got = SnapshotTable.read(spark, root)
          .as[(Long, String)].collect().toMap
        val want = base.toMap ++ upd.toMap // map upsert IS the spec
        assert(got == want, s"merge mismatch: $got vs $want")
        // the diff between the versions must be exactly the net change
        val d = SnapshotTable.diff(spark, root, 1L, 2L)
          .as[(Long, String, String)].collect()
        val inserted = d.filter(_._3 == "inserted").map(r => r._1 -> r._2)
        val deleted = d.filter(_._3 == "deleted").map(r => r._1 -> r._2)
        assert(inserted.toMap == (want.toSet -- base.toMap.toSet).toMap)
        assert(deleted.toMap == (base.toMap.toSet -- want.toSet).toMap)
      }
  }
}
