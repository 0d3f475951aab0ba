package graft.operators

import graft.{Ql, Tables}
import graft.Ql.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines (SURVEY.md §7 M4
  * + builder brief): token counting, quality scoring, language-ID
  * heuristic, document fingerprinting, term counts.
  *
  * All operators are pure narrow transformations (no shuffle except the
  * final aggregation) built from codegen'd `functions._` / higher-order
  * array functions — no UDFs, so whole-stage codegen spans the scan →
  * project → partial-agg pipeline. At 100 TB this family is scan-bound and
  * embarrassingly parallel; aggregations (per-lang stats, term counts) do
  * one key-shuffle with map-side combine.
  */
object TextAnalysis {

  /** Plain load, NO fan-out repartition (unlike Dedup/Similarity): every
    * operator here is a cheap scan-bound projection feeding a keyed
    * aggregation — the aggregation's own shuffle already redistributes,
    * and a pre-shuffle of the full text would cost more than the narrow
    * work it parallelizes (measured per query at sf0.1: ALL ten of this
    * family's queries — including the interpreted-lambda ones like
    * text_lang_id and docs_curation_funnel — got faster without it;
    * text_token_stats alone dropped 0.84s → 0.52s). At cluster scale the input
    * arrives in many splits anyway; the sketch loaders keep their
    * repartition because minhash/simhash signatures are genuinely
    * CPU-bound per row. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Whitespace tokens — single-space split keeps Spark and DuckDB
    * semantics aligned (the fixture text is single-space separated). */
  private val toks = "split(text, ' ')"

  /** The ONE portable split hash, shared by every split/sampling/pivot
    * query AND their DuckDB oracles — the same ANSI-SQL text runs in
    * both engines, and that identity IS the reproducibility contract
    * (a divergent copy would silently disagree with the others).
    * Knuth multiplicative hash; doc_id is reduced mod the prime 1000003
    * BEFORE the multiply so the product stays under 2^63 for any BIGINT
    * id — the unreduced form wraps negative in Spark and errors in
    * DuckDB once ids pass ~3.4e9. */
  private val splitHash =
    "CAST(((doc_id % 1000003) * 2654435761) % 4294967296 AS BIGINT)"

  /** 80/10/10 bucket assignment over `h` = [[splitHash]] % 100. */
  private val splitCase =
    "CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' " +
      "ELSE 'test' END"

  /** BPE merge training (Sennrich et al. 2016, arXiv:1508.07909) with
    * the scale split every production trainer uses: the CORPUS pass
    * (building the word-frequency table) is distributed — one scan,
    * one keyed aggregation — while the merge loop runs driver-side
    * over the collected top-`vocabCap` word table, which Zipf keeps
    * bounded regardless of corpus size (this is how fastBPE/HF
    * tokenizers train too: on word counts, never raw text). Returns
    * the learned merges in order. Fully deterministic: candidate
    * pairs rank by (count desc, pair lexicographic), words by
    * (count desc, word). */
  private[graft] def bpeTrain(words: Seq[(String, Long)],
      nMerges: Int): Seq[(String, String)] = {
    var table: Seq[(Vector[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    for (_ <- 1 to nMerges if !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long]
      table.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq
          .minBy { case ((x, y), c) => (-c, x, y) }._1
        merges += best
        table = table.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 &&
                syms(i + 1) == best._2) {
              out += (best._1 + best._2); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
      }
    }
    merges.result()
  }

  /** Greedy left-to-right application of an ordered merge list to one
    * word — the segmentation rule BPE inference uses. */
  private[graft] def bpeSegment(word: String,
      merges: Seq[(String, String)]): Vector[String] = {
    var syms = word.map(_.toString).toVector
    merges.foreach { case (x, y) =>
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == x && syms(i + 1) == y) {
          out += (x + y); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  val queries: Map[String, Q] = Map(
    // Trained-BPE corpus statistics — the real version of bpe_ish's
    // ceil(len/4) approximation: learn `nMerges` BPE merges from the
    // corpus itself, then report per-language subword counts under
    // the learned vocabulary. Scale shape: ONE distributed corpus
    // scan builds the word-frequency table; the merge loop runs on
    // the collected top-V words (Zipf-bounded driver state, the same
    // place fastBPE/HF trainers run it); application is a BROADCAST
    // join of the corpus tokens against the V-row segmentation map —
    // legal to broadcast because V is a declared cap, not a
    // data-dependent size. Out-of-vocab words fall back to character
    // count (their segment count with zero applicable merges).
    // Engine-side trained model ⇒ rows-only driver check; the merge
    // learner is pinned against hand-derived merges and an
    // independent reimplementation in TextAnalysisSpec.
    "text_bpe_vocab_stats" -> ((s, dir) => {
      import s.implicits._
      val words = docs(s, dir)
        .selectExpr(s"explode($toks) AS w")
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("w")).limit(4096)
        .as[(String, Long)].collect().toSeq
      val merges = bpeTrain(words, nMerges = 64)
      val seg = words.map { case (w, _) =>
        (w, bpeSegment(w, merges).length.toLong) }
        .toDF("w", "n_sub")
      docs(s, dir)
        .selectExpr("lang", s"explode($toks) AS w")
        .filter(col("w") =!= "")
        .join(broadcast(seg), Seq("w"), "left")
        .selectExpr("lang",
          "coalesce(n_sub, CAST(length(w) AS BIGINT)) AS n_sub")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("n_sub")).as("n_subwords"))
        .selectExpr("lang", "n_tokens", "n_subwords",
          "CAST(n_subwords AS DOUBLE) / n_tokens AS subwords_per_token")
        .orderBy(asc("lang"))
    }),
    // Token counting: per-language corpus statistics. The `bpe_ish`
    // count approximates subword counts by chunking every token into
    // runs of ≤4 chars — each greedy `[^ ]{1,4}` regex match IS one
    // chunk, so the count equals Σ ceil(len/4) over tokens with no
    // chunk substrings ever materialized (the nested-lambda original
    // was ~10× the CPU of the rest of this scan-bound query). The
    // native graft_bpe_count does that count in one codegen'd byte
    // pass; the regex formulation is the portable twin (and the DuckDB
    // oracle), proven equal ∀ strings in PropertySpec.
    "text_token_stats" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .selectExpr("lang", "source", s"size($toks) AS n_toks",
          "n_chars",
          "graft_bpe_count(text, 4) AS bpe_ish")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_toks"),
          (sum(col("n_toks")).cast("double") / count(lit(1))).as("avg_toks"),
          sum(col("bpe_ish")).as("total_bpe_ish"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(asc("lang"))
    }),

    // Quality scoring: length / stopword / unique-token ratios combined
    // into one score. All arithmetic is int-ratio -> double (identical
    // bits both engines).
    "text_quality_scores" -> ((s, dir) => {
      docs(s, dir)
        .filter(col("doc_id") < 100)
        .selectExpr("doc_id", "n_chars", s"size($toks) AS n_toks",
          s"size(filter($toks, t -> t IN ('the','a'))) AS n_stop",
          s"size(array_distinct($toks)) AS n_uniq")
        .selectExpr("doc_id", "n_toks",
          "CAST(n_stop AS DOUBLE) / n_toks AS stop_ratio",
          "CAST(n_uniq AS DOUBLE) / n_toks AS uniq_ratio",
          "CAST(n_chars AS DOUBLE) / n_toks AS avg_tok_len")
        .selectExpr("doc_id", "n_toks", "stop_ratio", "uniq_ratio",
          "avg_tok_len",
          // crude composite: long-enough, not stopword-soup, diverse
          "(CASE WHEN n_toks >= 20 THEN 1.0 ELSE CAST(n_toks AS DOUBLE)/20 END)" +
            " * (1.0 - stop_ratio) * uniq_ratio AS quality")
        .orderBy(asc("doc_id"))
    }),

    // Language-ID heuristic (n-gram/stopword flavor): score = share of
    // tokens that are English function words; classify en when above the
    // corpus-typical threshold. Confusion counts against the labeled lang.
    "text_lang_id" -> ((s, dir) => {
      docs(s, dir)
        .selectExpr("lang",
          s"CAST(size(filter($toks, t -> t IN ('the','a'))) AS DOUBLE)" +
            s" / size($toks) AS en_score")
        .selectExpr("lang",
          "CASE WHEN en_score > 0.06 THEN 'en' ELSE 'other' END AS guess")
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc("lang"), asc("guess"))
    }),

    // Document fingerprinting: position-weighted rolling token hash
    // (ascii of token head + length, weighted by position, mod 1e9+7) —
    // engine-portable (no engine hash functions) and order-sensitive.
    "doc_fingerprints" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), posexplode(expr(toks)))
        .groupBy(col("doc_id"))
        .agg((sum((col("pos") + 1) *
          (ascii(col("col")) + length(col("col")))) % 1000000007L)
          .as("fingerprint"))
        .orderBy(asc("doc_id"))
    }),

    // The end-to-end curation funnel a 100 TB training-data pipeline
    // runs per shard: boilerplate-prefix dedup (keep lowest doc_id per
    // 8-token prefix — the cheap deterministic keep-rule; the sketch
    // family in graft.operators.Dedup handles fuzzy near-dups) composed
    // with quality gating (length + lexical diversity), reported as a
    // per-(lang, source) funnel: arrived → after dedup → kept. One
    // window + one aggregation; both keyed shuffles scale out.
    "docs_curation_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("pfx")).orderBy(asc("doc_id"))
      docs(s, dir)
        .selectExpr("doc_id", "lang", "source",
          s"concat_ws(' ', slice($toks, 1, 8)) AS pfx",
          s"size($toks) AS n_toks",
          s"size(array_distinct($toks)) AS n_uniq")
        .withColumn("rn", row_number().over(w))
        .selectExpr("lang", "source", "rn = 1 AS first_copy",
          "n_toks >= 20 AND CAST(n_uniq AS DOUBLE)/n_toks >= 0.35 AS good")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("first_copy"), 1L).otherwise(0L)).as("n_after_dedup"),
          sum(when(col("first_copy") && col("good"), 1L).otherwise(0L))
            .as("n_kept"))
        .orderBy(asc("lang"), asc("source"))
    }),

    // Reproducible train/val/test assignment: the portable [[splitHash]]
    // (plain integer arithmetic, so the DuckDB oracle computes the
    // identical value; engine hash functions like xxhash64 could never
    // be oracle-compared) buckets every doc 80/10/10. Pure narrow
    // projection + one keyed aggregation; at 100 TB the same
    // expression IS the split predicate on any engine.
    "docs_split_counts" -> ((s, dir) => {
      docs(s, dir)
        .selectExpr("lang", s"$splitHash % 100 AS h")
        .selectExpr("lang", s"$splitCase AS split")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc("lang"), asc("split"))
    }),

    // PIVOT: the lang × split count matrix over the reproducible-split
    // assignment. Pivot values are DECLARED (not discovered), which at
    // 100 TB matters twice: it skips the extra distinct-values job a
    // value-less pivot() runs, and it bounds the output schema no
    // matter what the data contains. Absent combinations land as NULL
    // from the pivot and are pinned to 0 to match the conditional-
    // aggregation formulation (which is also the oracle's).
    "docs_split_pivot" -> ((s, dir) => {
      docs(s, dir)
        .selectExpr("lang", s"$splitHash % 100 AS h")
        .selectExpr("lang", s"$splitCase AS split")
        .groupBy(col("lang"))
        .pivot("split", Seq("train", "val", "test"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("train", "val", "test"))
        .orderBy(asc("lang"))
    }),

    // UNPIVOT (stack): fold the pivoted wide row back to (lang, split,
    // n) long form — the inverse reshape, here composed directly on the
    // pivot so the oracle proves pivot∘unpivot ≡ the plain grouped
    // counts (zero-filled cells from the pivot are dropped on the way
    // back: a (lang, split) the corpus lacks has no long-form row).
    // stack() is a Generator — rows stream out per input row, nothing
    // materializes wide.
    "docs_split_unpivot" -> ((s, dir) => {
      docs(s, dir)
        .selectExpr("lang", s"$splitHash % 100 AS h")
        .selectExpr("lang", s"$splitCase AS split")
        .groupBy(col("lang"))
        .pivot("split", Seq("train", "val", "test"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("train", "val", "test"))
        .selectExpr("lang",
          "stack(3, 'train', train, 'val', val, 'test', test) " +
            "AS (split, n)")
        .filter(col("n") > 0)
        .orderBy(asc("lang"), asc("split"))
    }),

    // Deterministic per-group sampling: k docs per lang in hash order —
    // the reproducible "take a sample of every stratum" primitive
    // (window over the portable hash; no rand(), so re-runs and engines
    // agree bit-for-bit).
    "docs_sample_per_lang" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(asc("h"), asc("doc_id"))
      docs(s, dir)
        .selectExpr("doc_id", "lang", s"$splitHash AS h")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(asc("lang"), asc("rk"))
    }),

    // Heavy-hitters census via the mergeable Misra-Gries sketch
    // (graft.functions.MisraGriesTopK): at most k counters per partial
    // buffer — the vocabulary census a 100 TB corpus runs WITHOUT a
    // full term GROUP BY shuffle. k=64 exceeds the fixture vocabulary,
    // so counts are exact and deterministic => DuckDB-oracle-compared;
    // the true sketch regime (k < distinct) is spec-checked.
    "term_topk_sketch" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .selectExpr(s"explode($toks) AS term")
        .agg(expr("graft_topk(term, 64)").as("tk"))
        .selectExpr("inline(tk)")
        .selectExpr("item AS term", "est_count")
        .orderBy(desc("est_count"), asc("term"))
    }),

    // TF-IDF: the classic term-salience score — tf(doc, term) ×
    // ln(N / df(term)), top-3 terms per reported doc. df and N come
    // from the FULL corpus (that is what makes it IDF) while tf is
    // only needed for the reported docs, so the doc filter applies to
    // the tf branch only. round(·, 6) pins last-ulp libm differences
    // between engines, and the ranking orders by the ROUNDED value so
    // tie-breaks agree too. Two keyed aggregations + one term join;
    // every stage is a plain shuffle that scales out.
    "text_tfidf_top_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tt = docs(s, dir).selectExpr("doc_id", s"explode($toks) AS term")
      val tf = tt.filter(col("doc_id") < 50)
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfT = tt.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("tfidf"), asc("term"))
      tf.join(dfT, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
        .orderBy(asc("doc_id"), asc("rk"))
    }),

    // Lexical retrieval — BM25 top-20 through the PERSISTED inverted
    // index (operators/TextIndex): build term-bucketed postings, then
    // search. The search's `term IN (...)` hashes into its buckets at
    // plan time (GraftPruning.pruneBucket), so the scan reads only the
    // query terms' posting files — the classic posting-list access
    // path, recovered from layout metadata alone; at 100 TB a 4-term
    // query against a 4096-bucket index touches ~4/4096ths of the
    // postings. The oracle recomputes BM25 from the raw documents
    // table in DuckDB: the index path must agree (round 6) with a
    // from-scratch evaluation, which also proves df/N/avgdl survive
    // the build→properties→search round trip.
    "docs_bm25_index" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bm25-q").toString + "/ix"
      TextIndex.build(s, docs(s, dir).select("doc_id", "text"), root,
        buckets = 32)
      TextIndex.searchBm25(s, root,
        Seq("spark", "merge", "vector", "customer"), 20)
    }),

    // INCREMENTAL index maintenance, oracled: build the index on
    // ~6/7ths of the corpus, add() the held-out batch, then search.
    // The oracle recomputes BM25 from the FULL documents table from
    // scratch — so this row passing proves the incremental path is
    // exactly equivalent to a rebuild: postings land in their buckets
    // and the additive (ndocs, sumdl) stats reproduce avgdl/idf to
    // the bit. This is the production shape: day one builds, every
    // day after adds.
    "docs_bm25_incremental" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bm25i-q").toString + "/ix"
      val d = docs(s, dir).select("doc_id", "text")
      TextIndex.build(s, d.filter(col("doc_id") % 7 =!= 0), root,
        buckets = 32)
      TextIndex.add(s, d.filter(col("doc_id") % 7 === 0), root)
      TextIndex.searchBm25(s, root,
        Seq("window", "batch", "filter"), 20)
    }),

    // INDEX DELETION, oracled: build over the full corpus, remove()
    // every 13th doc (tombstone set + a NEGATIVE stats-journal row —
    // no posting file touched), then search. The oracle recomputes
    // BM25 from scratch over ONLY the surviving documents — so the
    // green row proves the read-side tombstone filter and the
    // additive stats algebra make deletion exactly equivalent to
    // never having indexed the docs: membership, df, N and avgdl all
    // agree bit-for-bit.
    "docs_bm25_delete" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bm25d-q").toString + "/ix"
      val d = docs(s, dir).select("doc_id", "text")
      TextIndex.build(s, d, root, buckets = 32)
      TextIndex.remove(s, d.filter(col("doc_id") % 13 === 0), root)
      TextIndex.searchBm25(s, root,
        Seq("table", "stream", "group"), 20)
    }),

    // THE INDEX AS A MATERIALIZED VIEW, oracled end-to-end: documents
    // live in a snapshot TABLE; the index builds from its v1 state;
    // then a MOR DELETE (v2) and a MOR UPDATE (v3, delete+insert with
    // preImages) land on the table and the CDC sink
    // (TextIndex.cdcIndexSink) applies the changelog to the index —
    // era-stamped insert postings, version-cut tombstones, one signed
    // stats row per batch, each commit exactly-once by its marker.
    // The oracle recomputes BM25 from scratch over the table's FINAL
    // logical state (survivors, updated texts reconstructed in SQL) —
    // so the green row proves the full loop: changelog semantics,
    // update netting (old postings die at their cut, replacements
    // live), and the signed stats algebra. The query terms include
    // 'extra' — a token that ONLY exists in updated texts.
    "docs_bm25_cdc" -> ((s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-bm25c-q").toString
      val src = base + "/docs_src"
      val root = base + "/ix"
      val d = docs(s, dir).select("doc_id", "text")
      graft.sources.SnapshotTable.commit(s, src, d,
        clusterKey = Some("doc_id"))                          // v1
      TextIndex.build(s, d, root, buckets = 32)
      val q = TextIndex.cdcIndexSink(s, src, root, base + "/cp",
        "bm25cdc", startingVersion = 2L)
      try {
        graft.sources.SnapshotTable.deleteKeysOnRead(s, src,
          d.filter(col("doc_id") % 13 === 0).select("doc_id"),
          "doc_id")                                           // v2
        graft.sources.SnapshotTable.mergeOnRead(s, src,
          d.filter(col("doc_id") % 17 === 0 &&
              col("doc_id") % 13 =!= 0)
            .withColumn("text",
              concat(col("text"), lit(" extra extra"))),
          "doc_id")                                           // v3
        q.processAllAvailable()
      } finally q.stop()
      TextIndex.searchBm25(s, root, Seq("extra", "sort", "join"), 20)
    }),

    // REAL-ANALYZER CONJUNCTIVE SEARCH, oracled: the index builds with
    // the declared `simple` analyzer (case-fold, non-alphanumeric runs
    // separate, empty tokens dropped — recorded as a table property so
    // every later installment reuses it), over a corpus mutated
    // in-plan to MAKE the analyzer load-bearing: every text is
    // UPPERCASED and gains a ", Spark!" suffix, so the whitespace
    // tokenizer would index zero lowercase terms and a junk "spark!"
    // token. The search is AND semantics — only docs holding ALL
    // three terms are scored; df/N/avgdl stay the OR scan's, so
    // scores match the searchBm25 contract. The oracle mirrors the
    // analyzer as SQL (lower + regex-split + empty-filter — the
    // analyzer is DATA, which is the point) and the conjunctive
    // membership via HAVING count(DISTINCT term) = 3.
    "docs_bm25_and" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bm25a-q").toString + "/ix"
      val d = docs(s, dir).select(col("doc_id"),
        concat(upper(col("text")), lit(", Spark!")).as("text"))
      TextIndex.build(s, d, root, buckets = 32, analyzer = "simple")
      TextIndex.searchAnd(s, root, Seq("vector", "merge", "window"), 20)
    }),

    // POSITIONAL PHRASE SEARCH, oracled: postings carry per-doc
    // position lists, so the index answers exact consecutive-token
    // queries — only docs containing "stream spark" AS A PHRASE are
    // scored (bag-of-words AND would admit any doc with both words).
    // The read is still the pruned 2-bucket scan; adjacency is one
    // array expression per candidate. The oracle recomputes phrase
    // membership in DuckDB with a positional lambda over the token
    // list and scores the same BM25 restriction.
    "docs_bm25_phrase" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bm25p-q").toString + "/ix"
      TextIndex.build(s, docs(s, dir).select("doc_id", "text"), root,
        buckets = 32)
      TextIndex.searchPhrase(s, root, Seq("stream", "spark"), 20)
    }),

    // STOPWORD-ANALYZER PHRASE SEARCH, oracled: the index builds with
    // `simple_en_stop` (simple + drop the FIXED, versioned
    // StopwordsEnV1 list — recorded in the analyzer name/table
    // property, so the DuckDB oracle mirrors the list literally).
    // This is the retrieval-scale analyzer: the corpus's "the"/"a"
    // posting lists are corpus-sized and positional, and under this
    // analyzer they simply don't exist — the index shrinks by exactly
    // the rows every search would otherwise scan. Positions are
    // assigned AFTER the drop, so the phrase ["sort", "table"] also
    // matches docs whose raw text reads "sort the table" / "sort a
    // table" (surviving-token adjacency — the standard stopword-
    // phrase semantics, spec-pinned in TextIndexSpec). The oracle
    // replays the same filtered tokenization in SQL.
    "docs_bm25_stop_phrase" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bm25sp-q").toString + "/ix"
      TextIndex.build(s, docs(s, dir).select("doc_id", "text"), root,
        buckets = 32, analyzer = "simple_en_stop")
      TextIndex.searchPhrase(s, root, Seq("sort", "table"), 20)
    }),

    // HYBRID RETRIEVAL (RRF), oracled — the standard RAG serving
    // pattern: a lexical BM25 leg and a semantic cosine leg, fused by
    // reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09:
    // score(d) = Σ_legs 1/(60 + rank_leg(d)) — rank-based, so the two
    // legs' incomparable score scales never matter). The lexical leg
    // is the persisted TextIndex's bucket-pruned BM25 top-20; the
    // semantic leg is exact cosine of every document embedding
    // against doc 0's embedding (the query vector), top-20. Both legs
    // are deterministic ranked lists with doc_id tie-breaks, and RRF
    // is pure double arithmetic on RANKS — which is what makes a
    // hybrid pipeline oracle-able at all. DuckDB recomputes BM25 from
    // raw text and the cosine leg via list_cosine_similarity.
    "docs_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.register(s)
      val root = java.nio.file.Files
        .createTempDirectory("graft-rrf-q").toString + "/ix"
      TextIndex.build(s, docs(s, dir).select("doc_id", "text"), root,
        buckets = 32)
      val wLex = Window.orderBy(desc("score"), asc("doc_id"))
      val lex = TextIndex.searchBm25(s, root,
        Seq("stream", "vector", "merge"), 20)
        .withColumn("lex_rk", row_number().over(wLex))
        .select(col("doc_id"), col("lex_rk"))
      val e = graft.Tables.load(s, dir, "embeddings")
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      val qv = broadcast(e.filter(col("vec_id") === 0)
        .select(col("v").as("q_v")))
      val wSem = Window.orderBy(desc("cos_r"), asc("doc_id"))
      val sem = e.filter(col("vec_id") =!= 0).crossJoin(qv)
        .selectExpr("vec_id AS doc_id",
          "round(graft_cosine(v, q_v), 6) AS cos_r")
        .orderBy(desc("cos_r"), asc("doc_id")).limit(20)
        .withColumn("sem_rk", row_number().over(wSem))
        .select(col("doc_id"), col("sem_rk"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .selectExpr("doc_id",
          "round(coalesce(1.0/(60 + lex_rk), CAST(0 AS DOUBLE)) + " +
            "coalesce(1.0/(60 + sem_rk), CAST(0 AS DOUBLE)), 9) AS rrf",
          "lex_rk", "sem_rk")
        .orderBy(desc("rrf"), asc("doc_id"))
    }),

    // Benchmark DECONTAMINATION — the training-data hygiene pass every
    // LLM pipeline runs before training: does a training doc share any
    // 8-token shingle with the held-out eval set? The eval split derives
    // in-plan (doc_id % 97 = 0, the same derive-a-split trick as
    // dedup_incremental_exact — no extra fixture needed). Shingles are
    // md5 of the 8-token window text: md5 is the ONE hash both engines
    // compute identically, which is what makes this oracle-able (at
    // cluster scale you'd roll 64-bit token-hash chains like
    // graft_minhash does — same plan shape, cheaper key). Plan: narrow
    // shingle projection on both sides, per-doc overlap via an equi-join
    // on the distinct eval shingles + keyed count. Eval sets are small
    // by definition (benchmarks are KBs against a 100 TB corpus), so the
    // eval side SHOULD broadcast — but that is a size assumption, not an
    // invariant, so it is deliberately NOT a mandatory broadcast() hint:
    // AQE measures the eval side's actual runtime size and broadcasts
    // when it fits the threshold, degrading to a keyed shuffle join on
    // the shingle when someone feeds a corpus-sized "eval" set (the
    // size-guard spec pins both behaviors). Either way no shuffle
    // touches the corpus side beyond its own per-doc aggregation. Every
    // train doc is reported, so the clean/contaminated partition is
    // complete.
    //
    // Shape note: the split filters sit BEFORE the shingle lambda and
    // both output counts come from ONE aggregation over a left
    // broadcast join (shingles are distinct per doc, so every train
    // shingle row survives the eval left-join exactly once: count(1)
    // = n_shingles, count(hit) = n_overlap). The obvious three-branch
    // formulation — eval shingles, train shingles, and a per-doc size
    // — recomputes the shingle projection once per branch (Catalyst
    // does not dedupe common subplans without materialization) and
    // measured 3× this query's cost.
    "docs_decontaminate" -> ((s, dir) => {
      val sh8 =
        """CASE WHEN size(toks) < 8 THEN array(md5(concat_ws(' ', toks)))
          |ELSE transform(sequence(1, size(toks)-7),
          |  i -> md5(concat_ws(' ', slice(toks, i, 8)))) END""".stripMargin
      def shingles(df: DataFrame): DataFrame = df
        .selectExpr("doc_id", s"$toks AS toks")
        .selectExpr("doc_id", s"explode(array_distinct($sh8)) AS shingle")
      val d = docs(s, dir)
      val evalSh = shingles(d.filter(col("doc_id") % 97 === 0))
        .select(col("shingle")).distinct()
        .withColumn("hit", lit(1))
      shingles(d.filter(col("doc_id") % 97 =!= 0))
        .join(evalSh, Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(col("hit")).as("n_overlap"))
        .selectExpr("doc_id", "n_shingles", "n_overlap",
          "n_overlap >= 1 AS contaminated")
        .orderBy(asc("doc_id"))
    }),

    // TEMPERATURE-style rebalancing — the multilingual-pretraining
    // trick (XLM-R and kin) of flattening a skewed domain mix:
    // instead of a hand-declared per-source rate
    // (docs_domain_mixture), each source keeps everything up to a
    // budget K and is inverse-sqrt downsampled past it
    // (rate = min(1, sqrt(K / n))) — big domains grow with sqrt(n),
    // small ones survive whole, the α = 0.5 point of the temperature
    // family. Per-SOURCE arithmetic only (sqrt and division are
    // correctly-rounded IEEE ops, so both engines derive identical
    // thresholds — no cross-domain Σ whose accumulation order could
    // differ); membership is floor(rate · 2^20) basis points against
    // the portable [[splitHash]], reproducible on any engine. One
    // window count + one keyed aggregation, no shuffle beyond the
    // source key at any scale.
    "docs_temperature_mixture" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .selectExpr("source", s"$splitHash % 1048576 AS h")
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("source"))))
        .selectExpr("source", "h", "n",
          "CAST(floor(least(CAST(1.0 AS DOUBLE), " +
            "sqrt(CAST(25 AS DOUBLE) / n)) * 1048576) AS BIGINT) " +
            "AS thresh")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("thresh")).as("thresh"),
          sum(when(col("h") < col("thresh"), 1L).otherwise(0L))
            .as("n_sampled"))
        .selectExpr("source", "n_docs", "thresh", "n_sampled",
          "CAST(n_sampled AS DOUBLE) / n_docs AS achieved")
        .orderBy(asc("source"))
    }),

    // Duplicated-SPAN statistics — the cross-document substring
    // duplication measure of Lee et al. 2022 ("Deduplicating Training
    // Data Makes Language Models Better", arXiv:2107.06499),
    // approximated at 8-token shingle granularity: per document, the
    // fraction of its shingle OCCURRENCES whose text also appears in
    // at least one OTHER document. Exact-dedup catches whole-doc
    // copies; this surfaces partial copies (boilerplate, quoted
    // passages) that survive it — the thing their suffix-array pass
    // finds, re-expressed as two keyed aggregations Spark executes at
    // any scale: a shingle→distinct-doc-count pass, then a join back
    // on the shingle key (no broadcast — the shingle table grows with
    // the corpus; same rule as the Ed-Join df pass). Within-doc
    // repetition is deliberately NOT counted (docs_repetition_stats
    // owns that axis): a shingle is duplicated only if seen in ≥ 2
    // DISTINCT docs. md5 shingles keep the shuffle key narrow and the
    // query DuckDB-oracleable; dup_frac is an exact int/int division,
    // bit-identical across engines.
    "docs_dup_span_stats" -> ((s, dir) => {
      val sh8 =
        """CASE WHEN size(toks) < 8 THEN array(md5(concat_ws(' ', toks)))
          |ELSE transform(sequence(1, size(toks)-7),
          |  i -> md5(concat_ws(' ', slice(toks, i, 8)))) END""".stripMargin
      val occ = docs(s, dir)
        .selectExpr("doc_id", s"$toks AS toks")
        .selectExpr("doc_id", s"explode($sh8) AS shingle")
      val dfreq = occ.groupBy(col("shingle"))
        .agg(countDistinct(col("doc_id")).as("docs_with"))
      occ.join(dfreq, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("docs_with") >= 2, 1L).otherwise(0L))
            .as("n_dup_shingles"))
        .selectExpr("doc_id", "n_shingles", "n_dup_shingles",
          "CAST(n_dup_shingles AS DOUBLE) / n_shingles AS dup_frac")
        .orderBy(asc("doc_id"))
    }),

    // EXACT duplicated-span detection — the suffix-array twin of the
    // shingle-granularity docs_dup_span_stats (Lee et al. 2022 build a
    // single-node suffix array for exact substring dedup; this is the
    // same neighbor-scan re-expressed as ONE distributed range-
    // partitioned sort). Every token position contributes its L-capped
    // suffix window; windows sort lexicographically (the suffix-array
    // order); every globally-adjacent pair from DIFFERENT docs yields
    // a token-level LCP. Per-doc max cross-doc span is EXACT (capped
    // at L): if doc A shares an ℓ-token span with B, all suffixes
    // between their entries share an ℓ-prefix, so walking from A's
    // entry the first doc-change adjacency is (A, non-A) with LCP ≥ ℓ.
    // Scale shape: O(tokens) suffix rows (L× string amplification is
    // the declared cost — Lee et al. pay pointers instead), one
    // repartitionByRange sort, adjacency closed per partition with
    // only the P partition-head rows (P = partition count, driver-
    // bounded) exchanged for the boundaries — the mapPartitions here
    // is the genuine per-partition-imperative case, not a shortcut.
    // Pair enumeration is partition-invariant: range partitions tile
    // the total (w, doc_id, p) order, so every adjacent pair is seen
    // exactly once wherever the boundaries fall. All-integer outputs
    // over a deterministic total order ⇒ DuckDB-oracled end-to-end.
    "docs_exact_dup_spans" -> ((s, dir) => {
      import s.implicits._
      val L = 16
      val suf = docs(s, dir).filter(col("text").isNotNull)
        .selectExpr("doc_id", s"$toks AS t")
        .selectExpr("doc_id", "t", "explode(sequence(1, size(t))) AS p")
        .selectExpr("doc_id", "CAST(p AS BIGINT) AS p",
          s"concat_ws(' ', slice(t, p, $L)) AS w")
      val sorted = suf
        // Width scales with the cluster, not a constant: a fixed 32
        // funnels the whole corpus's suffix rows through 32 tasks at
        // 100×. Pair enumeration below is partition-invariant, so the
        // width only affects parallelism, never results.
        .repartitionByRange(s.sparkContext.defaultParallelism,
          col("w"), col("doc_id"), col("p"))
        .sortWithinPartitions("w", "doc_id", "p")
        .select(col("doc_id"), col("p"), col("w"))
        .as[(Long, Long, String)]
        .persist()
      // partition heads: the P-row boundary exchange
      val heads = sorted.rdd.mapPartitionsWithIndex((i, it) =>
        if (it.hasNext) Iterator((i, it.next())) else Iterator.empty)
        .collect().toMap
      val nParts = sorted.rdd.getNumPartitions
      def lcp(a: String, b: String): Int = {
        val ta = a.split(' '); val tb = b.split(' ')
        val n = math.min(ta.length, tb.length)
        var i = 0
        while (i < n && ta(i) == tb(i)) i += 1
        i
      }
      val pairs = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
        val out = Iterator.newBuilder[(Long, Long, Int)]
        var prev: (Long, Long, String) = null
        for (cur <- it) {
          if (prev != null && prev._1 != cur._1)
            out += ((prev._1, cur._1, lcp(prev._3, cur._3)))
          prev = cur
        }
        // my last row is adjacent to the next non-empty partition's head
        if (prev != null) {
          var j = i + 1
          while (j < nParts && !heads.contains(j)) j += 1
          heads.get(j).foreach { h =>
            if (prev._1 != h._1)
              out += ((prev._1, h._1, lcp(prev._3, h._3)))
          }
        }
        out.result()
      }.toDF("a", "b", "lcp")
      val sides = pairs.select(col("a").as("doc_id"), col("lcp"))
        .unionByName(pairs.select(col("b").as("doc_id"), col("lcp")))
      val agg = sides.groupBy(col("doc_id"))
        .agg(max(col("lcp")).as("max_span"),
          count(when(col("lcp") >= 8, 1)).as("n_dup8"))
      docs(s, dir).filter(col("text").isNotNull).select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "CAST(coalesce(max_span, 0) AS BIGINT) AS max_span",
          "coalesce(n_dup8, CAST(0 AS BIGINT)) AS n_dup8")
        .orderBy(asc("doc_id"))
    }),

    // EXACT longest-repeated-substring per document — the suffix-
    // AUTOMATON intra-doc twin of docs_exact_dup_spans' cross-doc
    // suffix-array pass: the boilerplate/repetition signal quality
    // filters threshold on (a doc whose longest internal repeat is
    // long relative to its length is template spam). O(n) states and
    // time per document via graft.functions.Lrs, per-row scalar work
    // riding whole-stage codegen — zero shuffle, trivially 100 TB-
    // shaped. Code-point semantics match SQL substr/length, so the
    // oracle brute-forces the same answer over every substring (the
    // 120-char cap keeps the O(n^2) ORACLE tractable; the automaton
    // itself has no such need). */
    "docs_lrs_exact" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      docs(s, dir).filter(col("text").isNotNull)
        .selectExpr("doc_id", "substring(text, 1, 120) AS s")
        .selectExpr("doc_id", "CAST(length(s) AS BIGINT) AS n_chars",
          "CAST(graft_lrs(s) AS BIGINT) AS lrs_len")
        .orderBy(asc("doc_id"))
    }),

    // Sequence PACKING — the other pre-training staple: concatenate each
    // (lang, split) stream in doc_id order and chunk it into 1024-token
    // training sequences; a doc belongs to the sequence its LAST token
    // lands in (floor(cumulative/1024) — the concatenate-and-chunk
    // discipline GPT-style pipelines use, not bin-packing with
    // reordering, which would destroy the reproducible doc order).
    // Output is per-sequence doc counts + token counts + fill ratio
    // (÷1024 is a power-of-two division — exact in IEEE-754, so both
    // engines emit identical bits). One window + one keyed aggregation,
    // both partitioned by (lang, split): at 100 TB the window's
    // per-partition running sum is the standard monotonic-prefix
    // pattern — each (lang, split) stream sorts once, no global sort.
    "docs_pack_greedy" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"), col("split"))
        .orderBy(asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .selectExpr("doc_id", "lang", s"size($toks) AS n_toks",
          s"$splitHash % 100 AS h")
        .selectExpr("doc_id", "lang", "n_toks", s"$splitCase AS split")
        .withColumn("cum", sum(col("n_toks").cast("long")).over(w))
        .selectExpr("lang", "split", "n_toks", "cum DIV 1024 AS seq_id")
        .groupBy(col("lang"), col("split"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks").cast("long")).as("seq_tokens"),
          (sum(col("n_toks").cast("long")).cast("double") / 1024)
            .as("fill_ratio"))
        .orderBy(asc("lang"), asc("split"), asc("seq_id"))
    }),

    // Domain-mixture sampling — the "data recipe" step of a pre-training
    // pipeline: sample each source domain at its own target rate so the
    // training mix matches a prescribed distribution rather than the
    // crawl's. Membership is the portable [[splitHash]] against a
    // per-source rate (derived here from the source id so the oracle
    // computes it identically; in production the rates are config) —
    // fully deterministic, so the SAME docs are selected on any engine,
    // any cluster size, any rerun: the mixture is reproducible, which
    // is the whole point. Pure narrow predicate + one keyed aggregation.
    "docs_domain_mixture" -> ((s, dir) => {
      docs(s, dir)
        .selectExpr("source", s"$splitHash % 100 AS h",
          // target rate per domain, 20..80%
          "20 + 5 * (CAST(substr(source, 4) AS INT) % 13) AS rate")
        .groupBy(col("source"), col("rate"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("h") < col("rate"), 1L).otherwise(0L))
            .as("n_sampled"))
        .selectExpr("source", "rate", "n_docs", "n_sampled",
          "CAST(n_sampled AS DOUBLE) / n_docs AS achieved")
        .orderBy(asc("source"))
    }),

    // Repetition detection — the Gopher/RefinedWeb-style quality rule
    // a 100 TB curation pass applies before training: a doc whose most
    // frequent word bigram accounts for too much of the text is
    // boilerplate/spam. rep_ratio = count(top bigram) / count(bigrams),
    // exact integer-ratio arithmetic (identical bits in both engines,
    // no rounding needed). Two keyed aggregations, both sharded by
    // doc_id — the (doc_id, bigram) count reuses the first shuffle's
    // partitioning for the per-doc max, so this is one real shuffle
    // over narrow rows at scale.
    "docs_repetition_stats" -> ((s, dir) => {
      val bigrams =
        """CASE WHEN size(toks) < 2 THEN array(concat_ws(' ', toks))
          |ELSE transform(sequence(0, size(toks)-2),
          |  i -> concat_ws(' ', toks[i], toks[i+1])) END""".stripMargin
      docs(s, dir)
        .selectExpr("doc_id", s"$toks AS toks")
        .selectExpr("doc_id", s"explode($bigrams) AS bg")
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("max_rep"))
        .selectExpr("doc_id", "n_bigrams", "max_rep",
          "CAST(max_rep AS DOUBLE) / n_bigrams AS rep_ratio",
          "CAST(max_rep AS DOUBLE) / n_bigrams >= 0.08 AS is_repetitive")
        .orderBy(asc("doc_id"))
    }),

    // Tokenize/explode -> global term counts, top 20.
    "term_counts" -> ((s, dir) => {
      docs(s, dir)
        .selectExpr(s"explode($toks) AS term")
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("term"))
        .limit(20)
    }),

    // Count-Min frequency census (graft.functions.CmsSketchAgg): one
    // 4×4096 counter grid instead of a full term GROUP BY, probed
    // in-plan for the exact top-10 terms. The sketch is deterministic
    // (counter sums commute), so the rows-only check is stable; the
    // never-under column is the CMS guarantee made visible. The
    // crossJoin is the 1-row broadcast-scalar shape every sketch probe
    // here uses. NOT oracle-compared: hash-addressed estimates are
    // engine-specific by nature (same contract as the HLL family).
    "sketch_term_freq_cms" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val terms = docs(s, dir).selectExpr(s"explode($toks) AS term")
      val sk = terms.agg(expr("graft_cms_sketch(term, 4, 4096)").as("sk"))
      terms.groupBy("term").agg(count(lit(1)).as("n_exact"))
        .orderBy(desc("n_exact"), asc("term")).limit(10)
        .crossJoin(broadcast(sk))
        .selectExpr("term", "n_exact",
          "graft_cms_est(sk, term) AS n_est",
          "graft_cms_est(sk, term) >= n_exact AS never_under")
        .orderBy(desc("n_exact"), asc("term"))
    }),

    // Deterministic distinct sampling via the mergeable bottom-k
    // (min-wise) sketch: the k distinct values with the smallest
    // 64-bit hash — the uniform "show me a few example values per
    // group" a 100 TB profiler answers without collect_set's unbounded
    // state. Unlike a seeded reservoir, bottom-k commutes with union,
    // so the answer is independent of partitioning (spec-pinned).
    // Samples surface as comma-joined STRINGS, not arrays: the result
    // is a profiler report row, and scalar columns keep the driver's
    // rows-only check (which sorts every column) applicable.
    "sketch_bottomk_sample" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .groupBy("lang")
        .agg(expr("array_join(graft_bottomk(source, 3), ',')")
            .as("sample_sources"),
          expr("array_join(transform(graft_bottomk(doc_id, 5), " +
            "x -> CAST(x AS STRING)), ',')").as("sample_doc_ids"),
          count(lit(1)).as("n_docs"))
        .orderBy(asc("lang"))
    }),

    // RAG-prep chunking: overlapping fixed-size token windows
    // (window 32, stride 24 — each chunk shares 8 tokens with its
    // predecessor, the standard retrieval-context shape). Pure narrow
    // work: sequence() enumerates chunk starts, one generator explodes
    // them, slice() takes each window — whole-stage codegen end to
    // end, no shuffle until the ORDER BY. At 100 TB chunking is
    // scan-bound and embarrassingly parallel; output size is
    // input × (1/stride-overlap factor), so the plan must never
    // materialize per-doc state — and this one doesn't.
    "docs_chunk_overlap" -> ((s, dir) => {
      docs(s, dir)
        // NULL text chunks to nothing — pinned explicitly so Spark
        // (NULL sequence bounds) and DuckDB (NULL generate_series)
        // agree by construction rather than by engine accident
        .filter(col("text").isNotNull)
        .selectExpr("doc_id", s"$toks AS toks")
        .selectExpr("doc_id", "toks",
          "posexplode(sequence(0, size(toks) - 1, 24)) AS (i, start)")
        .selectExpr("doc_id",
          "CAST(start AS BIGINT) AS chunk_start",
          "CAST(size(slice(toks, start + 1, 32)) AS BIGINT) " +
            "AS n_chunk_toks",
          "CAST(length(concat_ws(' ', slice(toks, start + 1, 32))) " +
            "AS BIGINT) AS chunk_chars")
        .orderBy(asc("doc_id"), asc("chunk_start"))
    }),

    // DSIR feature extraction (Xie et al. 2023, arXiv:2302.03169,
    // "Data Selection for Language Models via Importance
    // Resampling"): hashed n-gram bucket distributions for the
    // target domain vs the raw corpus — the model the importance
    // weights are computed from. Buckets come from a PORTABLE string
    // hash (first 6 hex chars of md5 → int → mod B) so the whole
    // feature pipeline — tokenize → unigram+bigram → hash → bucket
    // histogram — is hash-compared against DuckDB, not spot-checked;
    // Spark spells it conv(hex,16,10), DuckDB casts '0x'||hex, both
    // over the same md5. B=1024 keeps the model a broadcast-sized
    // table at any corpus size; the two histograms are one scan with
    // a conditional count. Scale: explode(ngrams) is the only fan-out
    // (O(tokens) rows), aggregated map-side into ≤B partials.
    // Normalization-before-dedup (the CCNet preprocessing step:
    // lowercase, strip punctuation, collapse whitespace — exact dedup
    // then catches case/punctuation/spacing variants of the same
    // text). The fixture corpus is already clean, so variant docs are
    // GRAFTED in-plan (uppercased, padded, punctuated twins with
    // offset ids — deterministic, no fixture edit): raw distinct
    // counts see two of everything, normalized distinct counts
    // collapse each pair back. Regexes held to the Java∩RE2 common
    // subset so the DuckDB twin is the same computation. One
    // narrow pass + one hash aggregate — scales like any exact dedup.
    "docs_normalized_dedup" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select("doc_id", "text", "lang")
        .filter(col("text").isNotNull)
      val variants = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" !! ")).as("text"),
        col("lang"))
      val norm = d.unionByName(variants).withColumn("norm",
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " ")))
      norm.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("raw_distinct"),
        countDistinct(col("norm")).as("norm_distinct"))
        .orderBy(asc("lang"))
    }),

    // Deterministic seeded global shuffle + shard assignment — the
    // "shuffle the corpus once, split into N training shards,
    // reproducible forever" step every training pipeline runs before
    // a single GPU sees data. Order comes from a seeded portable hash
    // (md5 of seed:doc_id — rerunning with the same seed reproduces
    // the exact order on any engine), shards from the same hash's
    // prefix, so assignment and order both derive from one value.
    // The oracle checks an ORDER-SENSITIVE checksum (Σ doc_id·pos per
    // shard): matching hashes prove the full permutation, not just
    // the partition sizes. Scale: one hash shuffle into shards +
    // per-shard sort — no global sort, no driver state; at 100 TB
    // raise the shard count and nothing else changes.
    "docs_training_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val keyed = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          expr("md5(concat('seed42:', CAST(doc_id AS STRING)))")
            .as("sk"))
        .withColumn("shard",
          expr("CAST(conv(substring(sk, 1, 6), 16, 10) AS BIGINT) % 8"))
      keyed
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(asc("sk"))))
        .groupBy("shard")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"),
          min(when(col("pos") === 1, col("doc_id"))).as("first_doc"),
          sum(col("doc_id") * col("pos")).as("order_sum"))
        .orderBy(asc("shard"))
    }),

    "docs_dsir_buckets" -> ((s, dir) => {
      dsirNgrams(s, dir)
        .selectExpr("lang", s"$dsirBucketExpr AS bucket")
        .groupBy(col("bucket"))
        .agg(count(when(col("lang") === "en", 1)).as("n_target"),
          count(lit(1)).as("n_raw"))
        .orderBy(asc("bucket"))
    }),

    // DSIR importance resampling: per-doc importance weight
    // Σ_b n_b · ln(p_b/q_b) over the doc's bucket counts, where p/q
    // are the +1-smoothed target/raw bucket distributions from
    // docs_dsir_buckets, then the top-K docs by weight (temperature-0
    // selection — the paper's Gumbel top-k with the noise term
    // dropped, so the query is deterministic). The B-row log-ratio
    // model BROADCASTS (a declared-size cap, not a data-dependent
    // bet); the corpus side aggregates to (doc, bucket) counts before
    // the join, so the shuffle is bounded by docs × min(B, doc
    // vocabulary). The ratio is computed in a fixed parenthesization
    // of two double divisions (overflow-safe at any corpus size,
    // unlike an integer cross-product). ln() puts the weight outside
    // cross-engine float reproducibility ⇒ rows-only driver check;
    // the targeting property (selected sample enriches the target
    // domain) and bit-determinism are spec-asserted, and the bucket
    // model itself IS oracled above.
    "docs_dsir_sample" -> ((s, dir) => {
      val k = 200
      val b = 1024
      // ONE corpus tokenize/hash pass feeds both the per-doc counts
      // and the distribution model (the n-gram explode is the only
      // O(tokens) stage — scanning it twice doubled the query)
      val occ = dsirNgrams(s, dir)
        .selectExpr("doc_id", "lang", s"$dsirBucketExpr AS bucket")
        .persist()
      val perBucket = occ
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val model = occ
        .groupBy(col("bucket"))
        .agg(count(when(col("lang") === "en", 1)).as("nt"),
          count(lit(1)).as("nr"))
      val totals = model.agg(sum(col("nt")).as("tt"),
        sum(col("nr")).as("tr")).collect()(0)
      val (tt, tr) = (totals.getLong(0), totals.getLong(1))
      val ratio = model.withColumn("lr", log(
        (col("nt").cast("double") + 1.0) / (col("nr").cast("double") + 1.0)
          * lit((tr + b).toDouble / (tt + b).toDouble)))
        .select(col("bucket"), col("lr"))
      val w = perBucket.join(broadcast(ratio), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(sum((col("n") * col("lr")).cast("decimal(38,18)"))
          .cast("double").as("w"))
      w.join(docs(s, dir).select(col("doc_id"), col("lang"),
          col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("w"), 6).as("w_r"))
        .orderBy(desc("w_r"), asc("doc_id"))
        .limit(k)
    }),

    // Stupid-backoff n-gram LM, tier resolution (Brants et al. 2007,
    // "Large Language Models in Machine Translation" — the
    // MapReduce-era distributed LM this engine re-expresses as keyed
    // Spark aggregations; CCNet, Wenzek et al. 2020, is the pipeline
    // that uses target-domain LM scores to filter a crawl). Model =
    // uni/bi/trigram counts over the TARGET slice (lang='en'); every
    // full-trigram position of every scoreable doc then resolves at a
    // tier: trigram known / back off to bigram / to unigram / OOV.
    // Tier counts are INTEGERS, so this half of the LM is
    // hash-compared against a DuckDB twin end to end; the float
    // scoring half rides on it below. Scale: the model is
    // CORPUS-sized (a vocabulary, not a dimension table) — every
    // model join is a keyed shuffle, deliberately NOT broadcast; AQE
    // may still broadcast at small SF by measured size. Fan-out is
    // one explode to O(tokens) rows; counts partial-aggregate
    // map-side.
    "text_lm_backoff_tiers" -> ((s, dir) =>
      lmTiers(docs(s, dir)).orderBy(asc("doc_id"))),

    // Stupid-backoff LM scoring — the CCNet filter signal: per-doc
    // mean log-score under the en model, S(w3|w1,w2) = c3/c2(w1,w2),
    // else 0.4·c2(w2,w3)/c1(w2), else 0.4²·c1(w3)/N, with an
    // add-one floor for OOV (keeps log finite; pinned in-code, not an
    // engine accident). The backoff constant 0.4 is the paper's.
    // log() puts the score outside cross-engine float reproducibility
    // ⇒ rows-only driver check — but the tier structure the score is
    // computed FROM is the oracled query above, and the spec pins the
    // scorer to an independent hand-rolled reimplementation
    // bit-for-bit on a planted corpus. Top-K by score (doc_id
    // tie-break) = "keep the most target-like documents".
    "text_lm_score_sample" -> ((s, dir) =>
      lmScores(docs(s, dir))
        .orderBy(desc("score_r"), asc("doc_id"))
        .limit(200)),

    // Quality / domain classifier — the CCNet-style linear filter
    // (Wenzek et al. 2020 train a fastText model to split wiki-like
    // from crawl-like text; the re-expression here is logistic
    // regression over the SAME hashed n-gram buckets DSIR uses,
    // trained with distributed batch gradient descent). Scale split:
    // the MODEL is B+1 doubles and lives on the driver; each GD step
    // broadcasts it, computes per-doc margins with one keyed
    // aggregation, and partial-aggregates the per-bucket gradient
    // back — only model-sized data ever crosses the wire, and
    // training runs on a BOUNDED doc sample (the opqTrain/FAISS
    // discipline) while scoring is the only full-corpus pass.
    // Deterministic: fixed iterations/learning rate, decimal-summed
    // gradients (partition-invariant), seeded at w=0. Engine-side
    // trained model ⇒ rows-only driver check; loss descent, accuracy
    // over the majority baseline, and bit-determinism are
    // spec-asserted.
    "text_quality_classifier" -> ((s, dir) => {
      val b = 1024
      val (feats, labels) = lrFeatures(s, dir)
      val (w, bias) = trainLogistic(s,
        feats.join(labels, Seq("doc_id")), b,
        iters = 25, lr = 3.0, trainCap = 2048)
      val wDf = broadcast(s.createDataFrame(
        java.util.Arrays.asList(w.zipWithIndex.map { case (v, i) =>
          org.apache.spark.sql.Row(i.toLong, v) }: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("wv",
            org.apache.spark.sql.types.DoubleType, nullable = false)))))
      feats.join(wDf, Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(sum((col("x") * col("wv")).cast("decimal(38,18)"))
          .cast("double").as("m"))
        .join(labels, Seq("doc_id"))
        .selectExpr("doc_id", "y",
          s"1.0 / (1.0 + exp(-(m + $bias))) AS p")
        .selectExpr("doc_id", "CAST(y AS BIGINT) AS label",
          "round(p, 6) AS score_r",
          "CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) " +
            "AS predicted")
        .orderBy(asc("doc_id"))
    }),

    // PII scrub — the redaction pass every production curation
    // pipeline runs before training (emails, card-shaped ids, phone
    // numbers, IPv4). Pure regexp projection: scan-bound, narrow, no
    // shuffle until the final ORDER BY — the 100 TB shape is
    // scan → regexp_replace chain → write, embarrassingly parallel.
    // The fixture corpus carries no real PII, so deterministic
    // synthetic PII is GRAFTED IN-PLAN from doc_id arithmetic
    // (presence varies by doc_id mod 3/2/5, so the count columns are
    // non-constant); the oracle evaluates the SAME construction and
    // the SAME patterns, making the whole scrub hash-compared rather
    // than spot-checked. Patterns stay inside the Java-regex ∩ RE2
    // common subset (no lookaround, no \b) so both engines parse
    // them identically; the DataFrame API passes them as data (lit),
    // never through SQL-literal escape processing. Redaction order
    // (email → card → phone → ip) is part of the operator contract —
    // nested identically in the oracle.
    "docs_pii_redact" -> ((s, dir) => {
      piiRedactedDocs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(regexp_extract_all(col("aug"), lit(piiEmailRe), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("aug"), lit(piiCardRe), lit(0)))
            .cast("long").as("n_card"),
          size(regexp_extract_all(col("aug"), lit(piiPhoneRe), lit(0)))
            .cast("long").as("n_phone"),
          size(regexp_extract_all(col("aug"), lit(piiIpRe), lit(0)))
            .cast("long").as("n_ip"),
          (length(col("aug")) - length(col("red")))
            .cast("long").as("chars_redacted"),
          md5(col("red")).as("red_md5"))
        .orderBy(asc("doc_id"))
    }))

  /** Unigrams + bigrams per doc, exploded — the DSIR feature stream.
    * Single-token docs contribute their lone unigram (the CASE guard
    * keeps Spark's sequence() off the descending-range trap). */
  private def dsirNgrams(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(col("text").isNotNull)
      .selectExpr("doc_id", "lang", s"$toks AS t")
      .selectExpr("doc_id", "lang",
        """explode(CASE WHEN size(t) < 2 THEN t
          |  ELSE concat(t, transform(sequence(0, size(t) - 2),
          |    i -> concat(t[i], ' ', t[i+1]))) END) AS ng""".stripMargin)

  /** Portable n-gram → bucket hash: first 6 hex chars of md5, read as
    * an integer, mod B=1024 — Spark spelling. The DuckDB twin in the
    * oracle casts '0x'||hex; both evaluate the same md5 over UTF-8,
    * so bucket assignment is engine-independent (the same contract
    * idea as [[splitHash]], extended to STRING keys). */
  private val dsirBucketExpr =
    "CAST(conv(substring(md5(ng), 1, 6), 16, 10) AS BIGINT) % 1024"

  /** Scoreable docs for the n-gram LM: non-null text with at least
    * one full-trigram position. The ≥3-token guard applies to BOTH
    * model training and scoring (one filtered base, stated rather
    * than implied, so the DuckDB twin matches by construction). */
  private def lmBase(docsDf: DataFrame): DataFrame =
    docsDf.filter(col("text").isNotNull)
      .selectExpr("doc_id", "lang", s"$toks AS t")
      .filter(size(col("t")) >= 3)

  /** Every full-trigram position (i ≥ 2) of every scoreable doc —
    * one narrow explode to O(tokens) rows, no window shuffle (the
    * per-doc token array slides in place). */
  private def lmTriPositions(base: DataFrame): DataFrame =
    base.selectExpr("doc_id", "lang",
      """explode(transform(sequence(0, size(t) - 3),
        |  i -> named_struct('w1', t[i], 'w2', t[i+1], 'w3', t[i+2])))
        |  AS g""".stripMargin)
      .select(col("doc_id"), col("lang"), col("g.w1").as("w1"),
        col("g.w2").as("w2"), col("g.w3").as("w3"))

  /** The en-slice count model: (trigrams, bigrams, unigrams). Keyed
    * aggregations with map-side combine; each table is vocabulary-
    * sized and joins back by KEYED SHUFFLE — never a mandatory
    * broadcast (the model grows with the corpus). */
  private def lmModel(base: DataFrame)
  : (DataFrame, DataFrame, DataFrame) = {
    val en = base.filter(col("lang") === "en")
    val m3 = lmTriPositions(en)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val m2 = en.selectExpr(
        """explode(transform(sequence(0, size(t) - 2),
          |  i -> named_struct('a', t[i], 'b', t[i+1]))) AS g"""
          .stripMargin)
      .select(col("g.a").as("b1"), col("g.b").as("b2"))
      .groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("c2"))
    val m1 = en.selectExpr("explode(t) AS w")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("c1"))
    (m3, m2, m1)
  }

  /** Per-doc backoff-tier resolution counts (the oracled integer half
    * of the LM): of a doc's full-trigram positions, how many resolve
    * at the trigram / bigram / unigram tier and how many are OOV
    * under the en model. */
  private[graft] def lmTiers(docsDf: DataFrame): DataFrame = {
    val base = lmBase(docsDf)
    val (m3, m2, m1) = lmModel(base)
    val pos = lmTriPositions(base)
    pos
      .join(m3, Seq("w1", "w2", "w3"), "left")
      .join(m2, pos("w2") === m2("b1") && pos("w3") === m2("b2"), "left")
      .join(m1, pos("w3") === m1("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pos"),
        count(col("c3")).as("n_tri"),
        sum(when(col("c3").isNull && col("c2").isNotNull, 1L)
          .otherwise(0L)).as("n_bi"),
        sum(when(col("c3").isNull && col("c2").isNull &&
          col("c1").isNotNull, 1L).otherwise(0L)).as("n_uni"),
        sum(when(col("c3").isNull && col("c2").isNull &&
          col("c1").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Per-doc stupid-backoff mean log-score under the en model
    * (Brants et al. 2007 §4: S(w|ctx) backs off with a fixed 0.4
    * penalty per level; scores are relative frequencies, not
    * normalized probabilities — that is the "stupid" that makes the
    * estimator one count lookup per level, embarrassingly
    * distributable). OOV floor: count 1 at the unigram level.
    * Decimal-summed per doc ⇒ partition-invariant; round(6) is the
    * published surface. */
  private[graft] def lmScores(docsDf: DataFrame): DataFrame = {
    val base = lmBase(docsDf)
    val (m3, m2, m1) = lmModel(base)
    val pos = lmTriPositions(base)
    // context tables are the SAME model counts under different keys
    val ctx2 = m2.select(col("b1").as("x1"), col("b2").as("x2"),
      col("c2").as("cc2"))
    val ctx1 = m1.select(col("w").as("v"), col("c1").as("cv"))
    val n = m1.agg(sum(col("c1"))).collect()(0).getLong(0)
    pos
      .join(m3, Seq("w1", "w2", "w3"), "left")
      .join(m2, pos("w2") === m2("b1") && pos("w3") === m2("b2"), "left")
      .join(m1, pos("w3") === m1("w"), "left")
      .join(ctx2, pos("w1") === col("x1") && pos("w2") === col("x2"),
        "left")
      .join(ctx1, pos("w2") === col("v"), "left")
      // a known trigram implies its (w1,w2) context was counted, and a
      // known bigram implies its w2 context was — the divisors on the
      // taken branch are never NULL/zero by construction
      .withColumn("ls", expr(
        s"""CASE
           |  WHEN c3 IS NOT NULL THEN
           |    ln(CAST(c3 AS DOUBLE) / CAST(cc2 AS DOUBLE))
           |  WHEN c2 IS NOT NULL THEN
           |    ln(0.4 * CAST(c2 AS DOUBLE) / CAST(cv AS DOUBLE))
           |  WHEN c1 IS NOT NULL THEN
           |    ln(0.16 * CAST(c1 AS DOUBLE) / CAST($n AS DOUBLE))
           |  ELSE ln(0.16 / CAST($n AS DOUBLE))
           |END""".stripMargin))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_pos"),
        (sum(col("ls").cast("decimal(38,18)")) / count(lit(1)))
          .cast("double").as("s"))
      .select(col("doc_id"), col("lang"), col("n_pos"),
        round(col("s"), 6).as("score_r"))
  }

  /** fastText-style NORMALIZED bag features for the quality
    * classifier: x_b = count_b / total per doc — a doc is its n-gram
    * DISTRIBUTION, not its n-gram mass, so document length cannot
    * masquerade as class signal (with raw counts, longer docs push
    * every shared bucket's weight up and the model degenerates into
    * predict-the-long-class). Returns (features, labels). */
  private[graft] def lrFeatures(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val counts = dsirNgrams(s, dir)
      .selectExpr("doc_id", s"$dsirBucketExpr AS bucket")
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast("double").as("c"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("tot"))
    val feats = counts.join(totals, Seq("doc_id"))
      .withColumn("x", col("c") / col("tot"))
      .select(col("doc_id"), col("bucket"), col("x"))
    val labels = docs(s, dir)
      .select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    (feats, labels)
  }

  /** Distributed batch-GD logistic regression over hashed-bucket
    * features, ADAGRAD-scaled (Duchi et al. 2011): per-coordinate
    * steps lr/√(Σg²+ε) equalize the wildly different scales of the
    * bias pseudo-feature (x = 1) and the normalized bucket features
    * (x ≈ 1/doc-length) — plain GD needed a hand-tuned 1000:1 rate
    * split and 3× the iterations for the same accuracy. The bias IS
    * bucket −1 with x = 1, so one aggregation yields the whole
    * gradient and each step is ONE Spark action. `data` is (doc_id,
    * bucket, x, y); training restricts to `doc_id < trainCap`
    * (bounded sample — model fitting is O(sample), only scoring scans
    * the corpus). Bias seeds at the base-rate logit (no burn-in).
    * Gradients decimal-sum and the accumulator replays identically ⇒
    * the model is bit-identical under any partitioning. Returns
    * (w, bias). Spec-facing for the loss-descent assertion via
    * `lossLog`. */
  private[graft] def trainLogistic(s: SparkSession, data: DataFrame,
      b: Int, iters: Int, lr: Double, trainCap: Int,
      lossLog: scala.collection.mutable.Buffer[Double] = null)
  : (Array[Double], Double) = {
    // Model fitting is O(sample) BY CONSTRUCTION — `trainCap` bounds
    // the training docs regardless of corpus size — so the sample
    // collects ONCE (one pruned scan; the doc_id cap pushes to the
    // source) and the Adagrad loop runs driver-side over sorted
    // arrays. The previous distributed loop ran iters×2 cluster jobs
    // of milliseconds of compute each; per-step scheduling, Catalyst
    // planning and model broadcast dominated the query's wall clock
    // (13.8 s → ~2 s at sf0.1 for text_quality_classifier). The
    // driver's memory bound is the sample (≤ cap × min(B, doc
    // vocabulary) feature rows), never the corpus; SCORING remains
    // the only full-corpus pass. Fixed iteration order over the
    // sorted sample makes the model bit-deterministic under any
    // partitioning — stronger than the decimal-sum trick the
    // distributed loop needed for the same guarantee.
    val sample = data.filter(col("doc_id") < trainCap)
      .select(col("doc_id"), col("bucket"), col("x"), col("y"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt,
        r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    // consecutive rows share a doc: slice into per-doc feature lists
    val docsArr: Array[(Double, Array[(Int, Double)])] = {
      val out = Array.newBuilder[(Double, Array[(Int, Double)])]
      var i = 0
      while (i < sample.length) {
        val id = sample(i)._1
        val y = sample(i)._4
        val fs = Array.newBuilder[(Int, Double)]
        while (i < sample.length && sample(i)._1 == id) {
          fs += ((sample(i)._2, sample(i)._3))
          i += 1
        }
        out += ((y, fs.result()))
      }
      out.result()
    }
    val n = docsArr.length.toDouble
    val meanY = docsArr.iterator.map(_._1).sum / n
    val w = Array.fill(b)(0.0)
    var bias = math.log(
      math.max(meanY, 1e-6) / math.max(1.0 - meanY, 1e-6))
    val acc = Array.fill(b + 1)(0.0) // Adagrad Σg², slot b = bias
    for (_ <- 1 to iters) {
      val grad = new Array[Double](b)
      var gBias = 0.0
      var loss = 0.0
      docsArr.foreach { case (y, fs) =>
        var m = bias
        fs.foreach { case (i, x) => m += x * w(i) }
        val p = 1.0 / (1.0 + math.exp(-m))
        val r = p - y
        fs.foreach { case (i, x) => grad(i) += x * r }
        gBias += r
        if (lossLog != null)
          loss += -(y * math.log(math.max(p, 1e-12)) +
            (1.0 - y) * math.log(math.max(1.0 - p, 1e-12)))
      }
      if (lossLog != null) lossLog += loss / n
      var i = 0
      while (i < b) {
        val g = grad(i) / n
        acc(i) += g * g
        if (g != 0.0) w(i) -= lr / math.sqrt(acc(i) + 1e-10) * g
        i += 1
      }
      val gb = gBias / n
      acc(b) += gb * gb
      bias -= lr / math.sqrt(acc(b) + 1e-10) * gb
    }
    (w, bias)
  }

  /** The per-doc (aug, red) frame behind `docs_pii_redact`: synthetic
    * PII grafted from doc_id arithmetic, then the ordered redaction
    * chain. Spec-facing so tests can assert redaction is TOTAL
    * (re-scanning `red` with every pattern finds nothing) without
    * shipping full text through the driver compare. */
  private[graft] def piiRedactedDocs(s: SparkSession,
      dir: String): DataFrame = {
    val idm = (k: Int) => (col("doc_id") % k).cast("string")
    val aug0 = concat(
      col("text"),
      when(col("doc_id") % 3 === 0, lit("")).otherwise(concat(
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com ping admin."), idm(97),
        lit("@corp.example.org"))),
      when(col("doc_id") % 2 === 0, concat(lit(" tel +1-555-"),
        lpad(idm(10000), 4, "0"))).otherwise(lit("")),
      lit(" from 10."), idm(256), lit(".0."), idm(250),
      when(col("doc_id") % 5 === 0, concat(lit(" card 4111-1111-1111-"),
        lpad(idm(10000), 4, "0"))).otherwise(lit("")))
    val red0 = Seq(piiEmailRe -> "<EMAIL>", piiCardRe -> "<CARD>",
        piiPhoneRe -> "<PHONE>", piiIpRe -> "<IP>")
      .foldLeft(aug0) { case (c, (p, r)) =>
        regexp_replace(c, lit(p), lit(r)) }
    docs(s, dir).select(col("doc_id"), col("lang"),
      aug0.as("aug"), red0.as("red"))
  }

  /** PII patterns — Java-regex ∩ RE2 common subset, shared verbatim
    * with the DuckDB oracle text (the shared constant IS the
    * contract, as with [[splitHash]]). */
  private[graft] val piiEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val piiCardRe = "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
  private[graft] val piiPhoneRe = "\\+1-555-[0-9]{4}"
  private[graft] val piiIpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** The synthetic-PII augmentation as ANSI SQL — the oracle twin of
    * the in-plan construction above. */
  private val piiAugSql =
    """text ||
      |  (CASE WHEN doc_id % 3 = 0 THEN '' ELSE ' contact user' ||
      |    CAST(doc_id AS VARCHAR) || '@mail.example.com ping admin.' ||
      |    CAST(doc_id % 97 AS VARCHAR) || '@corp.example.org' END) ||
      |  (CASE WHEN doc_id % 2 = 0 THEN ' tel +1-555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END) ||
      |  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
      |  CAST(doc_id % 250 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN ' card 4111-1111-1111-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)""".stripMargin

  /** DuckDB twin of [[dsirNgrams]] + [[dsirBucketExpr]] (1-indexed
    * lists, so the bigram range shifts by one). */
  private val dsirBucketsSql =
    """SELECT lang,
      |  CAST(('0x' || substr(md5(ng), 1, 6)) AS BIGINT) % 1024 AS bucket
      |FROM (
      |  SELECT lang, unnest(CASE WHEN len(t) < 2 THEN t
      |    ELSE list_concat(t, list_transform(
      |      generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1])) END) AS ng
      |  FROM (SELECT lang, string_split(text, ' ') AS t FROM documents
      |        WHERE text IS NOT NULL))""".stripMargin

  private val toksSql = "string_split(text, ' ')"

  /** The `simple_en_stop` analyzer mirrored as SQL: lower + split on
    * non-alphanumeric runs + drop empties + drop the SAME versioned
    * stopword list the index recorded (the analyzer is DATA — the
    * list interpolates from the one definition in TextIndex). */
  private val stopToksSql: String = {
    val lst = graft.operators.TextIndex.StopwordsEnV1
      .map(w => s"'$w'").mkString(", ")
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), " +
      s"x -> x <> '' AND x NOT IN ($lst))"
  }

  val oracleSql: Map[String, String] = Map(
    "text_token_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS total_toks,
         |  CAST(sum(n_toks) AS DOUBLE) / count(*) AS avg_toks,
         |  CAST(sum(bpe_ish) AS BIGINT) AS total_bpe_ish,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  count(DISTINCT source) AS n_sources
         |FROM (
         |  SELECT lang, source, n_chars, len($toksSql) AS n_toks,
         |    len(regexp_extract_all(text, '[^ ]{1,4}')) AS bpe_ish
         |  FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality_scores" ->
      s"""SELECT doc_id, n_toks, stop_ratio, uniq_ratio, avg_tok_len,
         |  (CASE WHEN n_toks >= 20 THEN 1.0
         |        ELSE CAST(n_toks AS DOUBLE)/20 END)
         |    * (1.0 - stop_ratio) * uniq_ratio AS quality
         |FROM (
         |  SELECT doc_id, n_toks,
         |    CAST(n_stop AS DOUBLE) / n_toks AS stop_ratio,
         |    CAST(n_uniq AS DOUBLE) / n_toks AS uniq_ratio,
         |    CAST(n_chars AS DOUBLE) / n_toks AS avg_tok_len
         |  FROM (
         |    SELECT doc_id, n_chars, len($toksSql) AS n_toks,
         |      len(list_filter($toksSql, t -> t IN ('the','a'))) AS n_stop,
         |      len(list_distinct($toksSql)) AS n_uniq
         |    FROM documents WHERE doc_id < 100))
         |ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      s"""SELECT lang, guess, count(*) AS n FROM (
         |  SELECT lang,
         |    CASE WHEN CAST(len(list_filter($toksSql,
         |           t -> t IN ('the','a'))) AS DOUBLE) / len($toksSql) > 0.06
         |         THEN 'en' ELSE 'other' END AS guess
         |  FROM documents)
         |GROUP BY lang, guess ORDER BY lang, guess""".stripMargin,
    "doc_fingerprints" ->
      s"""SELECT doc_id,
         |  CAST(sum(pos * (ascii(tok) + length(tok))) % 1000000007 AS BIGINT)
         |    AS fingerprint
         |FROM (
         |  SELECT doc_id, unnest($toksSql) AS tok,
         |    generate_subscripts($toksSql, 1) AS pos
         |  FROM documents)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "docs_curation_funnel" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_after_dedup,
         |  CAST(sum(CASE WHEN rn = 1 AND good THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept
         |FROM (
         |  SELECT lang, source,
         |    row_number() OVER (PARTITION BY pfx ORDER BY doc_id) AS rn,
         |    n_toks >= 20 AND CAST(n_uniq AS DOUBLE)/n_toks >= 0.35 AS good
         |  FROM (
         |    SELECT doc_id, lang, source,
         |      concat_ws(' ', list_slice($toksSql, 1, 8)) AS pfx,
         |      len($toksSql) AS n_toks,
         |      len(list_distinct($toksSql)) AS n_uniq
         |    FROM documents))
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "docs_split_counts" ->
      s"""SELECT lang, $splitCase AS split, count(*) AS n
         |FROM (SELECT lang, $splitHash % 100 AS h FROM documents)
         |GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "docs_split_pivot" ->
      s"""SELECT lang,
         |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS train,
         |  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS val,
         |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS test
         |FROM (SELECT lang, $splitCase AS split
         |  FROM (SELECT lang, $splitHash % 100 AS h FROM documents))
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "docs_split_unpivot" ->
      s"""SELECT lang, split, count(*) AS n
         |FROM (SELECT lang, $splitCase AS split
         |  FROM (SELECT lang, $splitHash % 100 AS h FROM documents))
         |GROUP BY lang, split
         |ORDER BY lang, split""".stripMargin,
    "docs_sample_per_lang" ->
      s"""SELECT lang, rk, doc_id FROM (
         |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
         |      ORDER BY h, doc_id) AS rk
         |  FROM (SELECT lang, doc_id, $splitHash AS h FROM documents))
         |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    // exact regime (k >= |vocab|) => identical to a plain GROUP BY
    "term_topk_sketch" ->
      s"""SELECT term, count(*) AS est_count
         |FROM (SELECT unnest($toksSql) AS term FROM documents)
         |GROUP BY term ORDER BY est_count DESC, term""".stripMargin,
    "text_tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |       WHERE doc_id < 50 GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t
         |       GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, rk, term, tfidf FROM (
         |  SELECT tf.doc_id, tf.term,
         |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6)
         |        DESC, tf.term) AS rk
         |  FROM tf JOIN df USING (term) CROSS JOIN n)
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // from-scratch BM25 over raw documents — must equal the Spark
    // side's persisted-index path. Arithmetic is kept textually
    // parallel to TextIndex.searchBm25 (same association order), and
    // both engines round the per-doc sum to 6 decimals.
    "docs_bm25_index" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term,
         |    len($toksSql) AS dl FROM documents),
         |n AS (SELECT count(*) AS n_docs, sum(len($toksSql)) AS sumdl
         |      FROM documents),
         |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
         |  WHERE term IN ('spark','merge','vector','customer')
         |  GROUP BY doc_id, term, dl),
         |df AS (SELECT term, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, term FROM t
         |  WHERE term IN ('spark','merge','vector','customer'))
         |  GROUP BY term)
         |SELECT doc_id, round(sum(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * ((1.0 - 0.75)
         |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
         |  ), 6) AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin,
    // from-scratch BM25 over the documents table's FINAL logical
    // state (MOR delete of every 13th doc, MOR update appending
    // ' extra extra' to every surviving 17th) — the Spark side got
    // there by applying the table's CHANGELOG to a pre-built index.
    "docs_bm25_cdc" ->
      s"""WITH s AS (SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 0 THEN text || ' extra extra'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 0),
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |    len(string_split(text, ' ')) AS dl FROM s),
         |n AS (SELECT count(*) AS n_docs,
         |    sum(len(string_split(text, ' '))) AS sumdl FROM s),
         |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
         |  WHERE term IN ('extra','sort','join')
         |  GROUP BY doc_id, term, dl),
         |df AS (SELECT term, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, term FROM t
         |  WHERE term IN ('extra','sort','join'))
         |  GROUP BY term)
         |SELECT doc_id, round(sum(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * ((1.0 - 0.75)
         |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
         |  ), 6) AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin,
    // from-scratch BM25 over ONLY the surviving docs — the Spark side
    // indexed everything then tombstoned the rest, so equality proves
    // deletion ≡ never-indexed (membership, df, N, avgdl).
    "docs_bm25_delete" ->
      s"""WITH s AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 13 <> 0),
         |t AS (SELECT doc_id, unnest($toksSql) AS term,
         |    len($toksSql) AS dl FROM s),
         |n AS (SELECT count(*) AS n_docs, sum(len($toksSql)) AS sumdl
         |      FROM s),
         |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
         |  WHERE term IN ('table','stream','group')
         |  GROUP BY doc_id, term, dl),
         |df AS (SELECT term, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, term FROM t
         |  WHERE term IN ('table','stream','group'))
         |  GROUP BY term)
         |SELECT doc_id, round(sum(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * ((1.0 - 0.75)
         |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
         |  ), 6) AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin,
    // from-scratch BM25 over the FULL corpus — the Spark side indexed
    // it in two installments (build + add), so equality proves
    // incremental maintenance is a rebuild, bit for bit.
    "docs_bm25_incremental" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term,
         |    len($toksSql) AS dl FROM documents),
         |n AS (SELECT count(*) AS n_docs, sum(len($toksSql)) AS sumdl
         |      FROM documents),
         |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
         |  WHERE term IN ('window','batch','filter')
         |  GROUP BY doc_id, term, dl),
         |df AS (SELECT term, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, term FROM t
         |  WHERE term IN ('window','batch','filter'))
         |  GROUP BY term)
         |SELECT doc_id, round(sum(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * ((1.0 - 0.75)
         |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
         |  ), 6) AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin,
    // the `simple` analyzer mirrored as SQL (lower + split on
    // non-alphanumeric runs + drop empties) over the same in-plan
    // mutation (UPPER + ', Spark!'), conjunctive membership via
    // HAVING count(DISTINCT term) = 3; df/N/avgdl are the OR scan's.
    "docs_bm25_and" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(
        |      lower(upper(text) || ', Spark!'), '[^a-z0-9]+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS dl
        |      FROM d),
        |n AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sumdl
        |      FROM d),
        |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
        |  WHERE term IN ('vector','merge','window')
        |  GROUP BY doc_id, term, dl),
        |fullm AS (SELECT doc_id FROM tf
        |  GROUP BY doc_id HAVING count(DISTINCT term) = 3),
        |df AS (SELECT term, count(*) AS df FROM (
        |  SELECT DISTINCT doc_id, term FROM t
        |  WHERE term IN ('vector','merge','window'))
        |  GROUP BY term)
        |SELECT doc_id, round(sum(
        |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * ((1.0 - 0.75)
        |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
        |  ), 6) AS score
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |WHERE doc_id IN (SELECT doc_id FROM fullm)
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin,
    // phrase membership via a positional lambda over the token list
    // (DuckDB lists are 1-based); scoring is the same BM25 restriction
    "docs_bm25_phrase" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |ph AS (SELECT doc_id FROM d
         |  WHERE len(list_filter(range(1, len(toks)),
         |    i -> toks[i] = 'stream' AND toks[i+1] = 'spark')) > 0),
         |t AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS dl
         |      FROM d),
         |n AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sumdl
         |      FROM d),
         |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
         |  WHERE term IN ('stream','spark')
         |  GROUP BY doc_id, term, dl),
         |df AS (SELECT term, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, term FROM t
         |  WHERE term IN ('stream','spark'))
         |  GROUP BY term)
         |SELECT doc_id, round(sum(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * ((1.0 - 0.75)
         |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
         |  ), 6) AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n
         |WHERE doc_id IN (SELECT doc_id FROM ph)
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin,
    // the stopword analyzer mirrored literally (stopToksSql carries
    // the SAME versioned list the index recorded); phrase adjacency
    // runs over the SURVIVING tokens' positions, so "sort the table"
    // matches the ["sort", "table"] phrase — exactly what the index's
    // post-drop positions encode
    "docs_bm25_stop_phrase" ->
      s"""WITH d AS (SELECT doc_id, $stopToksSql AS toks
         |           FROM documents),
         |ph AS (SELECT doc_id FROM d
         |  WHERE len(list_filter(range(1, len(toks)),
         |    i -> toks[i] = 'sort' AND toks[i+1] = 'table')) > 0),
         |t AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS dl
         |      FROM d),
         |n AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sumdl
         |      FROM d),
         |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
         |  WHERE term IN ('sort','table')
         |  GROUP BY doc_id, term, dl),
         |df AS (SELECT term, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, term FROM t
         |  WHERE term IN ('sort','table'))
         |  GROUP BY term)
         |SELECT doc_id, round(sum(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * ((1.0 - 0.75)
         |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
         |  ), 6) AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n
         |WHERE doc_id IN (SELECT doc_id FROM ph)
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin,
    // both legs recomputed: BM25 from raw text (whitespace analyzer),
    // cosine via list_cosine_similarity over double-cast embeddings
    // (the identical float->double conversion + ascending-index loop
    // both engines run); fusion is rank-only double arithmetic
    "docs_hybrid_rrf" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS dl
         |      FROM d),
         |n AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sumdl
         |      FROM d),
         |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM t
         |  WHERE term IN ('stream','vector','merge')
         |  GROUP BY doc_id, term, dl),
         |df AS (SELECT term, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, term FROM t
         |  WHERE term IN ('stream','vector','merge'))
         |  GROUP BY term),
         |bm AS (SELECT doc_id, round(sum(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * ((1.0 - 0.75)
         |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n_docs)))
         |  ), 6) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n
         |  GROUP BY doc_id
         |  ORDER BY score DESC, doc_id
         |  LIMIT 20),
         |lex AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rk
         |  FROM bm),
         |qv AS (SELECT list_transform(embedding,
         |    x -> CAST(x AS DOUBLE)) AS q_v
         |  FROM embeddings WHERE vec_id = 0),
         |sem0 AS (SELECT vec_id AS doc_id,
         |    round(list_cosine_similarity(
         |      list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |      (SELECT q_v FROM qv)), 6) AS cos_r
         |  FROM embeddings WHERE vec_id <> 0
         |  ORDER BY cos_r DESC, doc_id
         |  LIMIT 20),
         |sem AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY cos_r DESC, doc_id) AS sem_rk
         |  FROM sem0)
         |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         |  round(coalesce(1.0/(60 + lex_rk), CAST(0 AS DOUBLE)) +
         |        coalesce(1.0/(60 + sem_rk), CAST(0 AS DOUBLE)), 9)
         |    AS rrf,
         |  lex_rk, sem_rk
         |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         |ORDER BY rrf DESC, doc_id""".stripMargin,
    "docs_decontaminate" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_distinct(
         |    CASE WHEN len(toks) < 8 THEN [md5(array_to_string(toks, ' '))]
         |    ELSE list_transform(generate_series(1, len(toks)-7),
         |      i -> md5(array_to_string(toks[i:i+7], ' '))) END) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM d
         |       WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id, unnest(sh) AS shingle FROM d
         |       WHERE doc_id % 97 != 0),
         |ov AS (SELECT doc_id, count(*) AS n_overlap
         |       FROM tr JOIN ev USING (shingle) GROUP BY doc_id)
         |SELECT d.doc_id, len(d.sh) AS n_shingles,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  coalesce(ov.n_overlap, 0) >= 1 AS contaminated
         |FROM d LEFT JOIN ov ON d.doc_id = ov.doc_id
         |WHERE d.doc_id % 97 != 0
         |ORDER BY d.doc_id""".stripMargin,
    "docs_temperature_mixture" ->
      s"""WITH s AS (
         |  SELECT source, $splitHash % 1048576 AS h,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM documents),
         |t AS (SELECT source, h, n,
         |    CAST(floor(least(CAST(1.0 AS DOUBLE),
         |      sqrt(CAST(25 AS DOUBLE) / n)) * 1048576) AS BIGINT)
         |      AS thresh
         |  FROM s)
         |SELECT source, count(*) AS n_docs, max(thresh) AS thresh,
         |  CAST(sum(CASE WHEN h < thresh THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sampled,
         |  CAST(sum(CASE WHEN h < thresh THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS achieved
         |FROM t GROUP BY source
         |ORDER BY source""".stripMargin,
    "docs_dup_span_stats" ->
      s"""WITH d AS (
         |  SELECT doc_id, CASE
         |    WHEN len(toks) < 8 THEN [md5(array_to_string(toks, ' '))]
         |    ELSE list_transform(generate_series(1, len(toks)-7),
         |      i -> md5(array_to_string(toks[i:i+7], ' '))) END AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |occ AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
         |df AS (SELECT shingle, count(DISTINCT doc_id) AS docs_with
         |       FROM occ GROUP BY shingle)
         |SELECT occ.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df.docs_with >= 2 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup_shingles,
         |  CAST(sum(CASE WHEN df.docs_with >= 2 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) AS dup_frac
         |FROM occ JOIN df USING (shingle)
         |GROUP BY occ.doc_id
         |ORDER BY occ.doc_id""".stripMargin,
    "docs_pack_greedy" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, n_toks, $splitCase AS split
         |  FROM (SELECT doc_id, lang, len($toksSql) AS n_toks,
         |          $splitHash % 100 AS h
         |        FROM documents)),
         |c AS (SELECT lang, split, n_toks,
         |    CAST(sum(n_toks) OVER (PARTITION BY lang, split
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM s)
         |SELECT lang, split, cum // 1024 AS seq_id, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS seq_tokens,
         |  CAST(sum(n_toks) AS DOUBLE) / 1024 AS fill_ratio
         |FROM c GROUP BY lang, split, seq_id
         |ORDER BY lang, split, seq_id""".stripMargin,
    "docs_domain_mixture" ->
      s"""SELECT source, rate, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sampled,
         |  CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS achieved
         |FROM (SELECT source, $splitHash % 100 AS h,
         |        20 + 5 * (CAST(substr(source, 4) AS INT) % 13) AS rate
         |      FROM documents)
         |GROUP BY source, rate ORDER BY source""".stripMargin,
    "docs_repetition_stats" ->
      s"""WITH b AS (
         |  SELECT doc_id, bg, count(*) AS c FROM (
         |    SELECT doc_id, unnest(
         |      CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |      ELSE list_transform(generate_series(1, len(toks)-1),
         |        i -> toks[i] || ' ' || toks[i+1]) END) AS bg
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |  GROUP BY doc_id, bg),
         |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |    CAST(max(c) AS BIGINT) AS max_rep
         |  FROM b GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, max_rep,
         |  CAST(max_rep AS DOUBLE) / n_bigrams AS rep_ratio,
         |  CAST(max_rep AS DOUBLE) / n_bigrams >= 0.08 AS is_repetitive
         |FROM d ORDER BY doc_id""".stripMargin,
    "term_counts" ->
      s"""SELECT term, count(*) AS n
         |FROM (SELECT unnest($toksSql) AS term FROM documents)
         |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,
    "docs_chunk_overlap" ->
      s"""SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
         |  CAST(len(list_slice(toks, start + 1, start + 32)) AS BIGINT)
         |    AS n_chunk_toks,
         |  CAST(length(array_to_string(
         |    list_slice(toks, start + 1, start + 32), ' ')) AS BIGINT)
         |    AS chunk_chars
         |FROM (SELECT doc_id, $toksSql AS toks FROM documents
         |      WHERE text IS NOT NULL),
         |  LATERAL unnest(generate_series(0, len(toks) - 1, 24))
         |    AS t(start)
         |ORDER BY doc_id, chunk_start""".stripMargin,
    "docs_pii_redact" ->
      s"""SELECT doc_id, lang,
         |  len(regexp_extract_all(aug, '$piiEmailRe')) AS n_email,
         |  len(regexp_extract_all(aug, '$piiCardRe')) AS n_card,
         |  len(regexp_extract_all(aug, '$piiPhoneRe')) AS n_phone,
         |  len(regexp_extract_all(aug, '$piiIpRe')) AS n_ip,
         |  CAST(length(aug) - length(red) AS BIGINT) AS chars_redacted,
         |  md5(red) AS red_md5
         |FROM (SELECT doc_id, lang, aug,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      aug, '$piiEmailRe', '<EMAIL>', 'g'),
         |      '$piiCardRe', '<CARD>', 'g'),
         |      '$piiPhoneRe', '<PHONE>', 'g'),
         |      '$piiIpRe', '<IP>', 'g') AS red
         |  FROM (SELECT doc_id, lang, $piiAugSql AS aug FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "docs_normalized_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE text IS NOT NULL),
        |all_docs AS (
        |  SELECT doc_id, text, lang FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000, '  ' || upper(text) || ' !! ', lang
        |  FROM base),
        |norm AS (SELECT lang, text,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
        |  FROM all_docs)
        |SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT text) AS raw_distinct,
        |  count(DISTINCT n) AS norm_distinct
        |FROM norm GROUP BY lang ORDER BY lang""".stripMargin,
    "docs_training_order" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    md5(concat('seed42:', CAST(doc_id AS VARCHAR))) AS sk,
        |    CAST(('0x' || substr(
        |      md5(concat('seed42:', CAST(doc_id AS VARCHAR))), 1, 6))
        |      AS BIGINT) % 8 AS shard
        |  FROM documents),
        |ordered AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY shard ORDER BY sk) AS pos
        |  FROM keyed)
        |SELECT shard, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(CASE WHEN pos = 1 THEN doc_id END) AS first_doc,
        |  CAST(sum(doc_id * pos) AS BIGINT) AS order_sum
        |FROM ordered GROUP BY shard
        |ORDER BY shard""".stripMargin,
    "docs_dsir_buckets" ->
      s"""SELECT bucket,
         |  count(*) FILTER (WHERE lang = 'en') AS n_target,
         |  count(*) AS n_raw
         |FROM ($dsirBucketsSql)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "docs_exact_dup_spans" ->
      """WITH suf AS (
        |  SELECT doc_id, p,
        |    array_to_string(list_slice(t, p, p + 15), ' ') AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t
        |        FROM documents WHERE text IS NOT NULL),
        |       LATERAL unnest(generate_series(1, len(t))) AS u(p)),
        |nbr AS (
        |  SELECT doc_id, w, lag(doc_id) OVER o AS pd,
        |    lag(w) OVER o AS pw
        |  FROM suf WINDOW o AS (ORDER BY w, doc_id, p)),
        |lcps AS (
        |  -- list_position returns 0 (not NULL) when no element
        |  -- mismatches: nullif maps the all-equal case to the full
        |  -- common length
        |  SELECT doc_id AS a, pd AS b,
        |    coalesce(nullif(list_position(list_transform(
        |      generate_series(1, least(len(ta), len(tb))),
        |      i -> CASE WHEN ta[i] = tb[i] THEN 1 ELSE 0 END), 0), 0)
        |      - 1, least(len(ta), len(tb))) AS lcp
        |  FROM (SELECT doc_id, pd, string_split(w, ' ') AS ta,
        |          string_split(pw, ' ') AS tb
        |        FROM nbr WHERE pd IS NOT NULL AND pd <> doc_id)),
        |sides AS (SELECT a AS doc_id, lcp FROM lcps
        |          UNION ALL SELECT b AS doc_id, lcp FROM lcps),
        |agg AS (SELECT doc_id, max(lcp) AS mx,
        |          count(*) FILTER (WHERE lcp >= 8) AS nd
        |        FROM sides GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(mx, 0) AS BIGINT) AS max_span,
        |  CAST(coalesce(nd, 0) AS BIGINT) AS n_dup8
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |WHERE d.text IS NOT NULL ORDER BY d.doc_id""".stripMargin,
    // Brute-force twin of the suffix automaton: enumerate EVERY
    // (start, len) substring of the capped text and keep the longest
    // length appearing at least twice — O(n^2) rows, tractable only
    // because of the same 120-char cap the Spark query applies.
    "docs_lrs_exact" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 120) AS s FROM documents
        |  WHERE text IS NOT NULL),
        |nums AS (SELECT range AS i FROM range(1, 121)),
        |subs AS (
        |  SELECT d.doc_id, n2.i AS len, substr(d.s, n1.i, n2.i) AS sub
        |  FROM d, nums n1, nums n2
        |  WHERE n1.i + n2.i - 1 <= length(d.s)),
        |dup AS (
        |  SELECT doc_id, max(len) AS lrs FROM (
        |    SELECT doc_id, len, sub FROM subs
        |    GROUP BY doc_id, len, sub HAVING count(*) >= 2) q
        |  GROUP BY doc_id)
        |SELECT d.doc_id, length(d.s) AS n_chars,
        |  CAST(coalesce(dup.lrs, 0) AS BIGINT) AS lrs_len
        |FROM d LEFT JOIN dup USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // DuckDB twin of the stupid-backoff tier resolution: the same
    // ≥3-token base, lag() windows rebuild the trigram/bigram
    // positions, the en model is three GROUP BYs, and each position
    // LEFT-joins its way down the backoff chain. Integer counts ⇒
    // hash-exact.
    "text_lm_backoff_tiers" ->
      """WITH base AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents
        |  WHERE text IS NOT NULL
        |    AND len(string_split(text, ' ')) >= 3),
        |u AS (
        |  SELECT doc_id, lang, unnest(t) AS w,
        |    generate_subscripts(t, 1) AS i
        |  FROM base),
        |g AS (
        |  SELECT doc_id, lang, i,
        |    lag(w, 2) OVER win AS w1, lag(w, 1) OVER win AS w2,
        |    w AS w3
        |  FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |tri_pos AS (SELECT * FROM g WHERE w1 IS NOT NULL),
        |m3 AS (SELECT w1, w2, w3, count(*) AS c FROM tri_pos
        |       WHERE lang = 'en' GROUP BY 1, 2, 3),
        |m2 AS (SELECT w2, w3, count(*) AS c FROM g
        |       WHERE lang = 'en' AND w2 IS NOT NULL GROUP BY 1, 2),
        |m1 AS (SELECT w3, count(*) AS c FROM g
        |       WHERE lang = 'en' GROUP BY 1)
        |SELECT p.doc_id,
        |  count(*) AS n_pos,
        |  count(m3.c) AS n_tri,
        |  count(CASE WHEN m3.c IS NULL AND m2.c IS NOT NULL
        |    THEN 1 END) AS n_bi,
        |  count(CASE WHEN m3.c IS NULL AND m2.c IS NULL
        |    AND m1.c IS NOT NULL THEN 1 END) AS n_uni,
        |  count(CASE WHEN m3.c IS NULL AND m2.c IS NULL
        |    AND m1.c IS NULL THEN 1 END) AS n_oov
        |FROM tri_pos p
        |LEFT JOIN m3 ON p.w1 = m3.w1 AND p.w2 = m3.w2 AND p.w3 = m3.w3
        |LEFT JOIN m2 ON p.w2 = m2.w2 AND p.w3 = m2.w3
        |LEFT JOIN m1 ON p.w3 = m1.w3
        |GROUP BY p.doc_id
        |ORDER BY p.doc_id""".stripMargin)
}
