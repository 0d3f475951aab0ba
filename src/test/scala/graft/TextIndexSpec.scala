package graft

import org.apache.spark.sql.functions._
import graft.operators.TextIndex

/** Persisted inverted index (operators/TextIndex): BM25 search over
  * term-bucketed postings. Pins (a) scores equal an independent
  * driver-side BM25 over the raw corpus, (b) the search scan plans
  * only the query terms' buckets (the posting-list access path is
  * real, not cosmetic), (c) incremental `add` is indistinguishable
  * from a one-shot build over the union. */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("apple", "pear", "kiwi", "plum", "fig",
    "mango", "grape", "lime", "peach", "date", "melon", "cherry")

  /** Deterministic synthetic corpus: doc i holds 20 + (i%7) tokens
    * drawn by a fixed recurrence. */
  private def corpus(ids: Range): Seq[(Long, String)] =
    ids.map { i =>
      val toks = (0 until 20 + i % 7)
        .map(j => vocab((i * 31 + j * 17 + (j * j) % 13) % vocab.size))
      (i.toLong, toks.mkString(" "))
    }

  /** Independent BM25: same operation tree as TextIndex.searchBm25,
    * computed in plain Scala over the collected corpus. */
  private def bm25Local(docs: Seq[(Long, String)], q: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75)
  : Seq[(Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val n = docs.size
    val avgdl = toks.map(_._2.size.toLong).sum.toDouble / n
    val terms = q.distinct
    val df = terms.map(t =>
      t -> toks.count(_._2.contains(t)).toLong).toMap
    val scored = toks.flatMap { case (id, ts) =>
      val ws = terms.flatMap { t =>
        val tf = ts.count(_ == t).toLong
        if (tf == 0 || df(t) == 0) None
        else {
          val idf = math.log(1.0 +
            (n.toDouble - df(t) + 0.5) / (df(t) + 0.5))
          Some(idf * (tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * ts.size / avgdl)))
        }
      }
      if (ws.isEmpty) None
      else Some(id -> BigDecimal(java.math.BigDecimal.valueOf(ws.sum))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    scored.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-tix").toString + "/ix"

  test("BM25 through the persisted index equals an independent " +
      "from-scratch evaluation, and the search scan plans only the " +
      "query terms' buckets") {
    val docs = corpus(0 until 400)
    val root = tmpRoot()
    TextIndex.build(spark, docs.toDF("doc_id", "text"), root,
      buckets = 16)

    val q = Seq("kiwi", "cherry", "fig")
    val res = TextIndex.searchBm25(spark, root, q, 15)
    val plan = res.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no graft scan in search plan:\n$plan")
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(kept < total,
      s"search read $kept/$total posting files — bucket pruning " +
        "did not engage")
    assert(kept <= 3,
      s"3 terms live in at most 3 buckets, read $kept files")

    val got = res.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = bm25Local(docs, q, 15)
    assert(got.length == want.length)
    got.zip(want).foreach { case ((gi, gs), (wi, ws)) =>
      assert(gi == wi && gs == ws,
        s"index ($gi, $gs) != local ($wi, $ws)")
    }
  }

  test("incremental add: search after add equals a one-shot build " +
      "over the union (postings land in their buckets, corpus stats " +
      "bump additively)") {
    val a = corpus(0 until 300)
    val bDocs = corpus(300 until 400)
    val incRoot = tmpRoot()
    TextIndex.build(spark, a.toDF("doc_id", "text"), incRoot,
      buckets = 16)
    TextIndex.add(spark, bDocs.toDF("doc_id", "text"), incRoot)

    val oneRoot = tmpRoot()
    TextIndex.build(spark, (a ++ bDocs).toDF("doc_id", "text"),
      oneRoot, buckets = 16)

    val q = Seq("apple", "melon")
    val inc = TextIndex.searchBm25(spark, incRoot, q, 25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val one = TextIndex.searchBm25(spark, oneRoot, q, 25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(inc == one,
      s"incremental index diverged from one-shot:\n$inc\nvs\n$one")
    assert(inc == bm25Local(a ++ bDocs, q, 25))

    // the incremental index still prunes: appendBucketed kept the
    // layout, so no cell-less files crept in
    val plan = TextIndex.searchBm25(spark, incRoot, q, 5)
      .queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"post-add search lost pruning:\n$plan")
  }

  test("remove(): tombstoned docs leave membership, df, N and avgdl " +
      "exactly — search equals an index that never held them — and a " +
      "rebuild purges the tombstone set") {
    val all = corpus(0 until 400)
    val (dead, alive) = all.partition(_._1 % 5 == 0)
    val root = tmpRoot()
    TextIndex.build(spark, all.toDF("doc_id", "text"), root,
      buckets = 16)
    TextIndex.remove(spark, dead.toDF("doc_id", "text"), root)

    val q = Seq("pear", "date", "grape")
    def got() = TextIndex.searchBm25(spark, root, q, 25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got() == bm25Local(alive, q, 25),
      "post-remove search diverged from the never-indexed oracle")
    assert(got().forall(r => r._1 % 5 != 0),
      "a tombstoned doc surfaced in results")

    // rebuild over the survivors: same answers, dels cleared, and
    // the pruned access path intact
    TextIndex.build(spark, alive.toDF("doc_id", "text"), root,
      buckets = 16)
    assert(got() == bm25Local(alive, q, 25),
      "rebuild (tombstone purge) changed answers")
    val plan = TextIndex.searchBm25(spark, root, q, 5)
      .queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt)
  }

  test("streaming maintenance is exactly-once: a MemoryStream of new " +
      "documents lands through indexSink, a replayed batch no-ops, " +
      "and a crash between the postings and stats commits converges " +
      "on replay — search always equals the one-shot rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val day0 = corpus(0 until 200)
    val day1 = corpus(200 until 280)
    val day2 = corpus(280 until 340)
    val root = tmpRoot()
    TextIndex.build(spark, day0.toDF("doc_id", "text"), root,
      buckets = 16)

    val stream = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-tix-ck").toString
    stream.addData(day1: _*)
    TextIndex.indexSink(stream.toDF().toDF("doc_id", "text"), root,
      ckpt, appId = "tix-test").start().awaitTermination()
    stream.addData(day2: _*)
    TextIndex.indexSink(stream.toDF().toDF("doc_id", "text"), root,
      ckpt, appId = "tix-test").start().awaitTermination()

    val q = Seq("kiwi", "plum")
    val want = bm25Local(day0 ++ day1 ++ day2, q, 25)
    def got() = TextIndex.searchBm25(spark, root, q, 25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got() == want, "streamed index diverged from rebuild")

    // replay: re-apply the LAST batch under its committed id — both
    // markers recognize it, nothing lands, search is unchanged
    val vBefore = graft.sources.SnapshotTable
      .currentVersion(spark, root)
    TextIndex.applyBatch(spark, root,
      day2.toDF("doc_id", "text"), "tix-test", batchId = 1L)
    assert(graft.sources.SnapshotTable
      .currentVersion(spark, root) == vBefore,
      "replayed batch committed new postings")
    assert(got() == want, "replay changed search results")

    // crash window: land ONLY the postings half of a day-3 batch
    // (what a crash between the two commits leaves), then replay the
    // full applyBatch — postings are skipped, the stats row lands,
    // and search equals the full rebuild
    val day3 = corpus(340 until 380)
    graft.sources.SnapshotTable.appendBucketed(spark, root,
      // the postings shape applyBatch writes, via the public API:
      // build a twin index and read its postings? No — re-derive
      // through add()'s own tokenizer by calling applyBatch twice
      // would defeat the test; instead stamp the same txn marker
      day3.toDF("doc_id", "text")
        .withColumn("__toks", split(col("text"), " "))
        .select(col("doc_id"), size(col("__toks")).as("dl"),
          lit(0L).as("era"), explode(col("__toks")).as("term"))
        .groupBy(col("term"), col("doc_id"), col("dl"), col("era"))
        .agg(count(lit(1)).as("tf")),
      txn = Some(("tix-test", 2L)))
    TextIndex.applyBatch(spark, root,
      day3.toDF("doc_id", "text"), "tix-test", batchId = 2L)
    val wantAll = bm25Local(day0 ++ day1 ++ day2 ++ day3, q, 25)
    assert(got() == wantAll,
      "crash-window replay did not converge to the rebuild")
  }

  test("searchAnd: only docs holding EVERY query term surface, their " +
      "scores are bit-identical to searchBm25's, and the scan still " +
      "prunes to the query terms' buckets") {
    val docs = corpus(0 until 400)
    val root = tmpRoot()
    TextIndex.build(spark, docs.toDF("doc_id", "text"), root,
      buckets = 16)
    val q = Seq("apple", "cherry", "melon")
    val orTop = TextIndex.searchBm25(spark, root, q, 400).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val andGot = TextIndex.searchAnd(spark, root, q, 400).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fullDocs = docs.filter { case (_, t) =>
      val ts = t.split(" ", -1).toSet; q.forall(ts) }.map(_._1).toSet
    assert(fullDocs.nonEmpty && fullDocs.size < docs.size,
      "fixture must make AND selective")
    assert(andGot.map(_._1).toSet == fullDocs,
      "AND membership diverged from a from-raw evaluation")
    // subset-of-OR with identical scores: df/N/avgdl are the OR scan's
    assert(andGot == orTop.filter(r => fullDocs(r._1)),
      "AND scores/order diverged from the OR ranking's restriction")
    val plan = TextIndex.searchAnd(spark, root, q, 5)
      .queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"AND search lost bucket pruning:\n$plan")
  }

  test("the declared 'simple' analyzer (case-fold, non-alphanumeric " +
      "separators, empties dropped) is recorded at build and reused " +
      "by add(): a cased/punctuated corpus answers like the " +
      "whitespace index over its normalized twin") {
    // mangle the deterministic corpus: uppercase + punctuation noise
    def mangle(t: String): String =
      t.split(" ").map(w => w.toUpperCase + "?!").mkString("  ,")
    val all = corpus(0 until 300)
    val (day0, day1) = all.partition(_._1 % 4 != 0)
    val root = tmpRoot()
    TextIndex.build(spark,
      day0.map { case (id, t) => (id, mangle(t)) }.toDF("doc_id", "text"),
      root, buckets = 16, analyzer = "simple")
    // add() must pick the analyzer up from the table property
    TextIndex.add(spark,
      day1.map { case (id, t) => (id, mangle(t)) }.toDF("doc_id", "text"),
      root)
    val q = Seq("kiwi", "fig", "lime")
    val got = TextIndex.searchBm25(spark, root, q, 25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == bm25Local(all, q, 25),
      "simple-analyzer index diverged from the normalized oracle")
    // unknown analyzer names fail loudly before any commit
    intercept[IllegalArgumentException] {
      TextIndex.build(spark, all.toDF("doc_id", "text"), tmpRoot(),
        analyzer = "porter")
    }
  }

  test("searchPhrase: only docs containing the EXACT consecutive " +
      "sequence surface (AND-matching docs without adjacency are " +
      "excluded), scores restrict the OR ranking, and the scan still " +
      "prunes") {
    val docs = corpus(0 until 400)
    val root = tmpRoot()
    TextIndex.build(spark, docs.toDF("doc_id", "text"), root,
      buckets = 16)
    val phrase = Seq("mango", "date")
    def hasPhrase(t: String): Boolean =
      t.split(" ", -1).sliding(2).exists(w =>
        w.length == 2 && w(0) == phrase(0) && w(1) == phrase(1))
    val want = docs.filter { case (_, t) => hasPhrase(t) }
      .map(_._1).toSet
    val andDocs = docs.filter { case (_, t) =>
      val ts = t.split(" ", -1).toSet; phrase.forall(ts) }
      .map(_._1).toSet
    assert(want.nonEmpty && want.size < andDocs.size,
      s"fixture must separate phrase (${want.size}) from " +
        s"AND (${andDocs.size})")
    val got = TextIndex.searchPhrase(spark, root, phrase, 400)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1).toSet == want,
      "phrase membership diverged from a from-raw sliding-window scan")
    val orTop = TextIndex.searchBm25(spark, root, phrase, 400)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == orTop.filter(r => want(r._1)),
      "phrase scores/order diverged from the OR ranking's restriction")
    val plan = TextIndex.searchPhrase(spark, root, phrase, 5)
      .queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"phrase search lost bucket pruning:\n$plan")
  }

  test("remove() under a txn marker is idempotent: a caller retry " +
      "(same appId/batchId) lands neither tombstones nor the negative " +
      "stats row twice, so N/avgdl stay exact") {
    val all = corpus(0 until 300)
    val (dead, alive) = all.partition(_._1 % 6 == 0)
    val root = tmpRoot()
    TextIndex.build(spark, all.toDF("doc_id", "text"), root,
      buckets = 16)
    TextIndex.remove(spark, dead.toDF("doc_id", "text"), root,
      txn = Some(("rm-app", 1L)))
    // the retry: both commits recognize their landed marker and skip
    TextIndex.remove(spark, dead.toDF("doc_id", "text"), root,
      txn = Some(("rm-app", 1L)))
    val q = Seq("plum", "peach", "mango")
    val got = TextIndex.searchBm25(spark, root, q, 25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == bm25Local(alive, q, 25),
      "retried remove double-applied (stats or tombstones skewed)")
  }

  test("purgeTombstones: physically drops dead postings, compacts " +
      "the stats journal to one net row, clears dels — search " +
      "bit-equal before and after, and equal to an index that never " +
      "held the removed docs") {
    import graft.sources.SnapshotTable
    val all = corpus(0 until 300)
    val (dead, alive) = all.partition(_._1 % 6 == 0)
    val root = tmpRoot()
    TextIndex.build(spark, all.toDF("doc_id", "text"), root,
      buckets = 16)
    TextIndex.remove(spark, dead.toDF("doc_id", "text"), root)
    val q = Seq("plum", "peach", "mango")
    def results() = TextIndex.searchBm25(spark, root, q, 25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = results()
    TextIndex.purgeTombstones(spark, root)
    assert(results() == before, "purge changed served results")
    assert(results() == bm25Local(alive, q, 25))
    // dels cleared, postings physically live-only, stats one net row
    assert(SnapshotTable.read(spark, root + "_dels").count() == 0L)
    assert(SnapshotTable.read(spark, root)
      .filter(col("doc_id") % 6 === 0).count() == 0L,
      "dead postings survived the purge")
    assert(SnapshotTable.read(spark, root + "_stats").count() == 1L)
    // idempotent: a second purge (empty dels) no-ops
    TextIndex.purgeTombstones(spark, root)
    assert(results() == before)
    // bucket pruning survives the rewrite
    val plan = TextIndex.searchBm25(spark, root, q, 5)
      .queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"post-purge search lost pruning:\n$plan")
  }

  test("simple_en_stop analyzer: stopword postings do not exist in " +
      "the index, a phrase matches ACROSS removed stopwords " +
      "(surviving-token adjacency), the query analyzer drops them " +
      "too, and the scan still prunes") {
    val root = tmpRoot()
    val docs = Seq(
      (1L, "sort the table quickly"),
      (2L, "sort a table now"),
      (3L, "sort table direct"),
      (4L, "table sort reversed"), // wrong order: no phrase
      (5L, "the sort of all tables")) // 'tables' != 'table': no phrase
      .toDF("doc_id", "text")
    TextIndex.build(spark, docs, root, buckets = 8,
      analyzer = "simple_en_stop")
    // the scale point: stopword posting lists simply don't exist
    val terms = graft.sources.SnapshotTable.read(spark, root)
      .select("term").distinct().as[String].collect().toSet
    assert(TextIndex.StopwordsEnV1.forall(w => !terms.contains(w)),
      s"stopwords leaked into the index: " +
        s"${terms.intersect(TextIndex.StopwordsEnV1.toSet)}")
    // positions are post-drop: "sort the table" and "sort a table"
    // carry (sort, table) ADJACENT — the phrase finds all three forms
    val res = TextIndex.searchPhrase(spark, root,
      Seq("sort", "table"), 10)
    assert(res.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // the query string goes through the SAME analyzer
    assert(TextIndex.analyzeQuery(spark, root, "Sort THE Table!") ==
      Seq("sort", "table"))
    // bucket pruning survives the analyzer
    val plan = res.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"stop-analyzer search lost pruning:\n$plan")
  }

  test("graft_porter matches the published Porter-stemmer examples; " +
      "non-lowercase-alpha tokens pass through unchanged; NULL -> " +
      "NULL; codegen == interpreted") {
    graft.functions.GraftFunctions.register(spark)
    // canonical pairs from the algorithm's published vocabulary
    val cases = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
      "motoring" -> "motor", "sing" -> "sing", "hopping" -> "hop",
      "falling" -> "fall", "hissing" -> "hiss", "filing" -> "file",
      "happy" -> "happi", "sky" -> "sky",
      "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "digitizer" -> "digit",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "electricity" -> "electr", "electrical" -> "electr",
      "hopeful" -> "hope", "goodness" -> "good",
      "revival" -> "reviv", "allowance" -> "allow",
      "inference" -> "infer", "adjustable" -> "adjust",
      "replacement" -> "replac", "adoption" -> "adopt",
      "communism" -> "commun", "effective" -> "effect",
      "generalizations" -> "gener", "controlling" -> "control",
      "rolling" -> "roll",
      // pass-through: non [a-z] or too short
      "123" -> "123", "Mixed" -> "Mixed", "ab" -> "ab",
      "foo_bar" -> "foo_bar")
    import spark.implicits._
    val got = cases.map(_._1).toDF("w")
      .selectExpr("w", "graft_porter(w) AS s")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (w, e) =>
      assert(got(w) == e, s"stem($w) = ${got(w)}, expected $e")
    }
    // NULL contract
    assert(spark.sql("SELECT graft_porter(CAST(NULL AS STRING))")
      .head().isNullAt(0))
    // interpreted == codegen over a non-local source
    val docsCol = Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
      .selectExpr("doc_id", "w", "graft_porter(w) AS s")
    val on = docsCol.collect().map(_.toSeq)
    val off = {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try docsCol.collect().map(_.toSeq)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    assert(on.toSeq == off.toSeq)
  }

  test("simple_en_porter analyzer: morphological variants collapse " +
      "to one posting term on BOTH the index and the query side, " +
      "stopwords drop, and the scan still prunes") {
    val root = tmpRoot()
    val docs = Seq(
      (1L, "the relational databases"),
      (2L, "relations between tables"),
      (3L, "relating tables to databases"),
      (4L, "a purely orthogonal topic"))
      .toDF("doc_id", "text")
    TextIndex.build(spark, docs, root, buckets = 8,
      analyzer = "simple_en_porter")
    // query side stems through the SAME analyzer: "Relational!" and
    // "relations" both become the posting term "relat"
    assert(TextIndex.analyzeQuery(spark, root, "Relational Tables!") ==
      Seq("relat", "tabl"))
    val hits = TextIndex.searchBm25(spark, root, Seq("relat"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L, 3L),
      s"stemmed term missed morphological variants: $hits")
    // stopwords never indexed ("the", "a", "to", "between" is NOT a
    // v1 stopword and must survive)
    val terms = graft.sources.SnapshotTable.read(spark, root)
      .select("term").distinct().as[String].collect().toSet
    assert(!terms.contains("the") && !terms.contains("a") &&
      terms.contains("between"))
    val plan = TextIndex.searchBm25(spark, root, Seq("relat"), 5)
      .queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"porter search lost pruning:\n$plan")
  }

  test("maintenance-mode exclusivity is ENFORCED: manual add() after " +
      "a CDC tick throws, and a rebuild resets the claim (plus the " +
      "analyzer property, which now lands BEFORE the data commits)") {
    val root = tmpRoot()
    TextIndex.build(spark, corpus(0 until 100).toDF("doc_id", "text"),
      root, buckets = 8, analyzer = "simple")
    // the property-first ordering: a fresh build must already declare
    // its analyzer (the old code set it last — a crash window where
    // analyzerOf() fell back to 'whitespace')
    assert(TextIndex.analyzerOf(spark, root) == "simple")
    val tick = corpus(100 until 110)
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'insert' AS _change_type",
        "CAST(2 AS BIGINT) AS _commit_version")
    TextIndex.applyChanges(spark, root, tick, "tix-excl", 0L)
    val e = intercept[IllegalStateException] {
      TextIndex.add(spark,
        corpus(200 until 210).toDF("doc_id", "text"), root)
    }
    assert(e.getMessage.contains("cdc"), e.getMessage)
    // rebuild resets the claim — manual maintenance is legal again
    TextIndex.build(spark, corpus(0 until 100).toDF("doc_id", "text"),
      root, buckets = 8, analyzer = "simple")
    TextIndex.add(spark,
      corpus(200 until 210).toDF("doc_id", "text"), root)
    intercept[IllegalStateException] {
      TextIndex.applyChanges(spark, root, tick, "tix-excl2", 0L)
    }
  }
}
