package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.SnapshotTable
import graft.streaming.SinkSession

/** A persisted INVERTED INDEX over a document corpus, stored as a
  * term-bucketed snapshot table — lexical (BM25) retrieval as a
  * lakehouse primitive.
  *
  * Postings are one row per (term, doc): `term, doc_id, tf, dl`,
  * hash-bucketed on `term` via [[SnapshotTable.commitBucketedOn]].
  * That single layout decision is the whole scale story: a query's
  * `term IN (...)` filter is hashed at PLAN time into the buckets
  * those terms live in (GraftPruning.pruneBucket), so a 4-term search
  * against a 4096-bucket index reads ~4/4096ths of the postings —
  * the classic posting-list access path, recovered entirely from
  * declarative Spark + manifest metadata, no driver-side index
  * structure and nothing resident in memory between queries.
  *
  * Corpus-level scoring state (document count and total token count)
  * is ADDITIVE, so it lives as a JOURNAL: a tiny `<root>_stats`
  * snapshot table holding one `(n_docs, sum_dl)` row per
  * installment; `avgdl = Σsum_dl / Σn_docs` stays exact across any
  * number of incremental adds, and because the journal is itself a
  * snapshot table, installments can carry the same `(appId, batchId)`
  * idempotence marker the postings commit carries — which is what
  * makes STREAMING maintenance exactly-once ([[applyBatch]]).
  * df(term) deliberately does NOT live anywhere: it is one tiny
  * aggregate over exactly the postings a search already reads (df of
  * a term = that term's posting count), and any persisted copy would
  * go stale on every add.
  *
  * Reference scope: the reference engine has no text-retrieval
  * operator; this extends the LLM-pipeline surface (SURVEY.md §2's
  * beyond-reference block) where retrieval-based decontamination and
  * data selection need exactly this primitive at corpus scale.
  */
object TextIndex {

  private def statsRoot(root: String): String = root + "_stats"
  private def delsRoot(root: String): String = root + "_dels"

  /** Table property recording which analyzer built the index — every
    * later installment (add / remove / CDC) reads it back, so one
    * index can never mix tokenizations. */
  val AnalyzerProp = "graft.textindex.analyzer"

  /** The FIXED v1 English stopword set behind `simple_en_stop` — the
    * classic Lucene/Snowball 33-word list, VERSIONED BY THE ANALYZER
    * NAME: a different set must ship as a new analyzer name, because
    * an index records only the name and its tokenization may never
    * drift under it. Public data, exposed so an external engine (the
    * DuckDB oracle) can mirror the list literally. */
  val StopwordsEnV1: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by",
    "for", "if", "in", "into", "is", "it",
    "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these",
    "they", "this", "to", "was", "will", "with")

  /** The DECLARED analyzers, kept as data (a name, not a closure) so
    * an external engine — the DuckDB oracle, a reader in another
    * language — can mirror tokenization exactly:
    *  - `whitespace`: `split(text, ' ')`, the documents-table
    *    convention every from-raw oracle in this repo uses;
    *  - `simple`: case-fold, any run of non-[a-z0-9] separates, empty
    *    tokens dropped — the minimal real-retrieval analyzer (Lucene's
    *    SimpleAnalyzer shape: letters-ish runs, lowercased);
    *  - `simple_en_stop`: `simple` + drop [[StopwordsEnV1]]. The
    *    retrieval-scale analyzer: every "the" posting list is
    *    corpus-sized (and positional postings multiply that), so
    *    dropping stopwords shrinks exactly the rows every search
    *    scans. Token POSITIONS are assigned AFTER the drop, so a
    *    PHRASE matches on SURVIVING tokens' adjacency — "sort the
    *    table" indexes as consecutive (sort, table) and the phrase
    *    query ["sort", "table"] finds it (the standard
    *    stopword-phrase semantics). */
  private def toks(text: org.apache.spark.sql.Column,
      analyzer: String): org.apache.spark.sql.Column = analyzer match {
    case "whitespace" => split(text, " ")
    case "simple" =>
      array_remove(split(lower(text), "[^a-z0-9]+"), "")
    case "simple_en_stop" =>
      filter(array_remove(split(lower(text), "[^a-z0-9]+"), ""),
        t => !t.isInCollection(StopwordsEnV1))
    case "simple_en_porter" =>
      // simple_en_stop + Porter-stem each surviving token (the
      // graft_porter expression — one static call per token inside
      // codegen). Stemming runs on BOTH the postings and the query
      // (analyzeQuery), so "relational" finds docs saying "relations"
      // — the standard English retrieval analyzer, dictionary-free
      // and deterministic. Callers with a SparkSession must ensure
      // GraftFunctions.register ran ([[reg]]).
      transform(
        filter(array_remove(split(lower(text), "[^a-z0-9]+"), ""),
          t => !t.isInCollection(StopwordsEnV1)),
        t => call_function("graft_porter", t))
    case other => throw new IllegalArgumentException(
      s"unknown analyzer '$other' " +
        "(declared: whitespace, simple, simple_en_stop, " +
        "simple_en_porter)")
  }

  /** Resolve the analyzer's function dependencies on this session —
    * idempotent, called at every entry point that evaluates [[toks]]
    * (the `graft_porter` call resolves from the session registry). */
  private def reg(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)

  /** The analyzer the index at `root` was built with. */
  private[graft] def analyzerOf(spark: SparkSession, root: String): String =
    SnapshotTable.tableProperties(spark, root)
      .getOrElse(AnalyzerProp, "whitespace")

  /** Tokenize a query string with the INDEX's OWN analyzer — the same
    * Column expression the postings went through, evaluated on a 1-row
    * frame, so query terms can never disagree with indexed terms (the
    * SQL `search_text` procedure's entry point). */
  def analyzeQuery(spark: SparkSession, root: String, q: String)
  : Seq[String] = {
    reg(spark)
    import spark.implicits._
    Seq(q).toDF("text")
      .select(toks(col("text"), analyzerOf(spark, root)).as("t"))
      .head().getSeq[String](0).toSeq
  }

  /** `era` orders installments of the SAME doc id within its
    * lifetime (0 for build/add/stream batches of new docs; the
    * source `_commit_version` for CDC rows): a tombstone records the
    * cut it was issued at, and only postings with `era < cut` die —
    * which is exactly what makes a MOR UPDATE (delete+insert at one
    * version) net to the new text. */
  private def postingsOf(docs: DataFrame,
      era: org.apache.spark.sql.Column = lit(0L),
      analyzer: String): DataFrame =
    docs
      .withColumn("__era", era)
      .withColumn("__toks", toks(col("text"), analyzer))
      .select(col("doc_id"), size(col("__toks")).as("dl"),
        col("__era").as("era"),
        posexplode(col("__toks")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("dl"), col("era"))
      // positions (0-based in the analyzed token stream) make the
      // postings POSITIONAL — [[searchPhrase]] needs adjacency; the
      // sort keeps the row content deterministic for bit-equality
      // specs (collect_list order is not)
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("pos"))

  /** One journal row for an installment of documents. */
  private def statsRowOf(docs: DataFrame,
      analyzer: String): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(size(toks(col("text"), analyzer))).as("sum_dl"))

  /** Index `docs(doc_id, text)` at `root`. Replaces any prior index
    * there (commitBucketedOn replaces the file set; the stats journal
    * restarts with it). The analyzer is recorded as a table property
    * and every later installment reuses it. */
  def build(spark: SparkSession, docs: DataFrame, root: String,
      buckets: Int = 64, analyzer: String = "whitespace"): Long = {
    reg(spark)
    toks(lit(""), analyzer) // validate the name before any commit
    // the analyzer property lands BEFORE the first data commit: a crash
    // in the old after-everything window left 'simple'-built postings
    // that analyzerOf() read back as the 'whitespace' default, so a
    // later add() silently mixed tokenizations. Property-first is safe
    // in both crash orders: property without postings = an empty index
    // a later build overwrites; postings always carry their property.
    // A rebuild also RESETS the maintenance mode — either timeline may
    // maintain the fresh index.
    SnapshotTable.setProperties(spark, root,
      SnapshotTable.tableProperties(spark, root)
        - IndexMaintenance.Prop + (AnalyzerProp -> analyzer))
    val v = SnapshotTable.commitBucketedOn(spark, root,
      postingsOf(docs, analyzer = analyzer), Seq(("term", buckets)))
    SnapshotTable.commit(spark, statsRoot(root),
      statsRowOf(docs, analyzer))
    // a rebuild IS the tombstone purge: clear any accumulated dels
    if (SnapshotTable.currentVersion(spark, delsRoot(root)) > 0L)
      SnapshotTable.commit(spark, delsRoot(root),
        spark.range(0).selectExpr("id AS doc_id", "id AS cut"))
    v
  }

  /** Incrementally index a NEW batch of documents: postings land in
    * their buckets (the layout survives ingest, so searches keep
    * pruning), the stats journal gains one additive row. Doc ids must
    * be new — re-adding an already-indexed doc would split its tf
    * rows. */
  def add(spark: SparkSession, docs: DataFrame, root: String): Long = {
    reg(spark)
    IndexMaintenance.claim(spark, root, "manual")
    val an = analyzerOf(spark, root)
    val v = SnapshotTable.appendBucketed(spark, root,
      postingsOf(docs, analyzer = an))
    SnapshotTable.append(spark, statsRoot(root), statsRowOf(docs, an),
      files = 1)
    v
  }

  /** REMOVE documents from the index WITHOUT touching a single
    * posting file: the removed ids land in a `<root>_dels` tombstone
    * set and the stats journal gains a NEGATIVE row — the additive
    * (n_docs, sum_dl) algebra nets them out exactly, and
    * [[searchBm25]] anti-joins the tombstones out of the pruned
    * postings BEFORE df is counted, so df/N/avgdl all behave as if
    * the docs were never indexed. `docs` carries full (doc_id, text)
    * rows because that is what deletion feeds actually provide (the
    * snapshot changelog emits preImages) and the negative journal
    * row needs the token counts. Postings are term-bucketed, so a
    * physical purge would touch every bucket — the production shape
    * is exactly this: filter at read, rebuild (`build`) to compact
    * once tombstones accumulate. Removing an id that was never
    * indexed, or re-adding a removed id, is outside the contract.
    *
    * The two appends (tombstones, then the negative stats row) are
    * separate commits. Pass `txn` to make each idempotent under its
    * own `(appId, batchId)` marker — then a crash between them, or a
    * caller retry after a transient failure, converges on replay
    * exactly like [[applyChanges]] (the landed half is recognized and
    * skipped). Without `txn`, a retry after a crash in the window
    * between the commits double-applies one side and permanently
    * skews N/avgdl until a rebuild — callers with retry loops MUST
    * pass a marker. */
  def remove(spark: SparkSession, docs: DataFrame, root: String,
      txn: Option[(String, Long)] = None): Long = {
    reg(spark)
    IndexMaintenance.claim(spark, root, "manual")
    val an = analyzerOf(spark, root)
    def landed(tbl: String): Boolean = txn.exists { case (app, b) =>
      SnapshotTable.lastCommittedTxn(spark, tbl, app).exists(_ >= b)
    }
    val dv =
      if (landed(delsRoot(root)))
        SnapshotTable.currentVersion(spark, delsRoot(root))
      else SnapshotTable.append(spark, delsRoot(root),
        docs.select(col("doc_id"),
          lit(Long.MaxValue).as("cut")), files = 1, txn = txn)
    if (!landed(statsRoot(root)))
      SnapshotTable.append(spark, statsRoot(root),
        docs.agg((-count(lit(1))).as("n_docs"),
          (-sum(size(toks(col("text"), an)))).as("sum_dl")),
        files = 1, txn = txn)
    dv
  }

  /** CDC MAINTENANCE: apply one micro-batch of the source documents
    * table's CHANGELOG (`changes=true, preImages=true` — insert rows
    * carry new docs, delete rows carry full preImages; a MOR update
    * is its delete+insert pair at one `_commit_version`). Three
    * marked commits, each guarded by its own `lastCommittedTxn`:
    * insert postings stamped `era = _commit_version`, delete
    * tombstones `(doc_id, cut = _commit_version)`, and ONE net
    * signed stats row (+insert −delete). The era/cut algebra nets an
    * update exactly: the old postings (`era < cut`) die, the
    * replacement (`era = cut`) lives, and stats carry the token-count
    * delta. Replay no-ops per table, a crash between commits
    * converges on replay. */
  def applyChanges(spark: SparkSession, root: String, batch: DataFrame,
      appId: String, batchId: Long): Unit = {
    reg(spark)
    IndexMaintenance.claim(spark, root, "cdc")
    val ver = col("_commit_version")
    val an = analyzerOf(spark, root)
    // one evaluation of the changelog batch per tick: the body reads
    // it ~6 times (two emptiness probes, the preImage guard, and the
    // three commits' own scans) — without the persist each read
    // re-opened the changelog's files. Released before returning; an
    // intra-tick intermediate.
    val b = batch.persist()
    try {
      // an empty side skips its commit outright — skipping is naturally
      // idempotent (a replay recomputes the same empty side), and an
      // empty frame cannot stage a parquet segment anyway
      val ins = b.filter(col("_change_type") === "insert")
        .select(col("doc_id"), col("text"), ver.as("__v"))
      if (!ins.isEmpty &&
          !SnapshotTable.lastCommittedTxn(spark, root, appId)
            .exists(_ >= batchId))
        SnapshotTable.appendBucketed(spark, root,
          postingsOf(ins, col("__v"), an), txn = Some((appId, batchId)))
      val del = b.filter(col("_change_type") === "delete")
      // the signed stats row needs the DELETED texts' token counts — a
      // feed built without preImages=true would silently corrupt
      // N/avgdl (sum() skips nulls), so refuse it loudly
      require(del.filter(col("text").isNull).isEmpty,
        "TextIndex.applyChanges needs delete rows with preImages " +
          "(build the changelog stream with preImages=true)")
      if (!del.isEmpty &&
          !SnapshotTable.lastCommittedTxn(spark, delsRoot(root), appId)
            .exists(_ >= batchId))
        SnapshotTable.append(spark, delsRoot(root),
          del.select(col("doc_id"), ver.as("cut")), files = 1,
          txn = Some((appId, batchId)))
      if (!SnapshotTable.lastCommittedTxn(spark, statsRoot(root), appId)
          .exists(_ >= batchId))
        SnapshotTable.append(spark, statsRoot(root),
          b.select(
              when(col("_change_type") === "insert", 1L)
                .otherwise(-1L).as("sgn"),
              size(toks(col("text"), an)).as("dl"))
            .agg(sum(col("sgn")).as("n_docs"),
              sum(col("sgn") * col("dl")).as("sum_dl")),
          files = 1, txn = Some((appId, batchId)))
    } finally b.unpersist(blocking = false)
  }

  /** The index as a MATERIALIZED VIEW of a documents snapshot table:
    * tail the source's changelog and keep the index consistent with
    * the table through inserts, MOR deletes and MOR updates —
    * exactly-once via [[applyChanges]]'s per-table markers. Build the
    * index from the source's CURRENT state first and pass
    * `startingVersion = thatVersion + 1` so the bootstrap is not
    * replayed; the sink owns its checkpoint. */
  def cdcIndexSink(spark: SparkSession, sourceRoot: String,
      root: String, checkpoint: String, appId: String,
      startingVersion: Long, purgeDelsAfter: Option[Long] = None)
  : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-snapshot")
      .option("path", sourceRoot)
      .option("changes", "true")
      .option("preImages", "true")
      .option("startingVersion", startingVersion.toString)
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(SinkSession.foreachBatch(spark) {
        (s, batch, batchId) =>
        if (!batch.isEmpty)
          applyChanges(s, root, batch, appId, batchId)
        if (purgeDelsAfter.exists(_ <= delsRows(s, root)))
          purgeTombstones(s, root, txn = Some((appId, batchId)))
      })
      .start()

  /** EXACTLY-ONCE streaming maintenance: apply one micro-batch of new
    * documents under an `(appId, batchId)` idempotence marker. Each
    * of the two commits (postings, stats journal) carries the marker
    * atomically with its data and is guarded by its OWN
    * `lastCommittedTxn` check, so a replayed batch no-ops and a crash
    * BETWEEN the two commits converges on replay: the landed half is
    * recognized and skipped, the missing half lands. (The one-batch
    * window where postings exist without their stats row only skews
    * avgdl/N by the in-flight batch — scoring state, never membership
    * — and closes on recovery.) */
  def applyBatch(spark: SparkSession, root: String, docs: DataFrame,
      appId: String, batchId: Long): Unit = {
    reg(spark)
    IndexMaintenance.claim(spark, root, "manual")
    val an = analyzerOf(spark, root)
    val landed = SnapshotTable.lastCommittedTxn(spark, root, appId)
      .exists(_ >= batchId)
    if (!landed)
      SnapshotTable.appendBucketed(spark, root,
        postingsOf(docs, analyzer = an), txn = Some((appId, batchId)))
    val statsLanded = SnapshotTable
      .lastCommittedTxn(spark, statsRoot(root), appId)
      .exists(_ >= batchId)
    if (!statsLanded)
      SnapshotTable.append(spark, statsRoot(root), statsRowOf(docs, an),
        files = 1, txn = Some((appId, batchId)))
  }

  /** Streaming sink: keep the index at `root` (built beforehand over
    * the day-0 corpus) fresh from a stream of `(doc_id, text)` rows.
    * At-least-once delivery + the per-table markers compose to
    * exactly-once index maintenance — the same handshake as the
    * snapshot ingest sinks. */
  def indexSink(docs: DataFrame, root: String, checkpoint: String,
      appId: String, purgeDelsAfter: Option[Long] = None)
  : DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(SinkSession.foreachBatch(docs.sparkSession) {
        (s, batch, batchId) =>
        if (!batch.isEmpty)
          applyBatch(s, root, batch, appId, batchId)
        if (purgeDelsAfter.exists(_ <= delsRows(s, root)))
          purgeTombstones(s, root, txn = Some((appId, batchId)))
      })

  /** Accumulated tombstone rows, metadata-priced (manifest row
    * counts — the dels table only sees appends and the purge's
    * replacing clear). */
  private def delsRows(spark: SparkSession, root: String): Long = {
    val v = SnapshotTable.currentVersion(spark, delsRoot(root))
    if (v == 0L) return 0L
    val entries = SnapshotTable.manifest(spark, delsRoot(root), v)
      .filter(_.kind == "d")
    if (entries.forall(_.rows.isDefined)) entries.flatMap(_.rows).sum
    else SnapshotTable.read(spark, delsRoot(root)).count()
  }

  /** Metadata-only observability row for the `index_status` SQL
    * procedure — table properties + manifest row counts, zero data
    * IO. */
  def status(spark: SparkSession, root: String): Map[String, String] = {
    val p = SnapshotTable.tableProperties(spark, root)
    Map(
      "kind" -> "text",
      "version" -> SnapshotTable.currentVersion(spark, root).toString,
      "analyzer_or_codec" -> analyzerOf(spark, root),
      "layout" -> ("buckets=" + p.getOrElse("graft.bucket.count", "?")),
      "dels" -> delsRows(spark, root).toString,
      "maintenance" -> p.getOrElse(IndexMaintenance.Prop, "unclaimed"))
  }

  /** PHYSICALLY PURGE tombstoned postings: rewrite the index to its
    * LIVE rows (the same era/cut filter every search applies), compact
    * the additive stats journal to one net row, and clear the dels
    * set — rebuild-is-the-purge WITHOUT re-tokenizing the corpus (the
    * bucket layout, analyzer property and maintenance claim survive;
    * searches keep pruning). Crash-safe in this order: surviving
    * postings all have `era >=` their doc's cut, so a crash before
    * the dels clear just re-filters rows that no longer exist; a
    * crash before the stats compaction leaves the journal longer but
    * identical in sum. `txn` keeps a streaming maintainer's replay
    * guard across the REPLACING commit. */
  def purgeTombstones(spark: SparkSession, root: String,
      txn: Option[(String, Long)] = None): Unit = {
    if (SnapshotTable.currentVersion(spark, delsRoot(root)) == 0L) return
    val layout = SnapshotTable
      .bucketLayoutOf(SnapshotTable.tableProperties(spark, root))
      .getOrElse(throw new IllegalStateException(
        s"index at $root has no bucket layout"))
    val cuts = SnapshotTable.read(spark, delsRoot(root))
      .groupBy(col("doc_id")).agg(max(col("cut")).as("__cut"))
    val live = SnapshotTable.read(spark, root)
      .join(cuts, Seq("doc_id"), "left_outer")
      .filter(col("__cut").isNull || col("era") >= col("__cut"))
      .drop("__cut")
    SnapshotTable.commitBucketedOn(spark, root, live, layout, txn = txn)
    SnapshotTable.commit(spark, statsRoot(root),
      SnapshotTable.read(spark, statsRoot(root))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_dl")).as("sum_dl")))
    SnapshotTable.commit(spark, delsRoot(root),
      spark.range(0).selectExpr("id AS doc_id", "id AS cut"))
    ()
  }

  /** BM25 top-k: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)) with idf = ln(1 + (N − df + ½)/(df + ½)) — the
    * Robertson/Lucene form, non-negative for every df. One pruned
    * scan (only the query terms' buckets), one tiny per-term
    * aggregate broadcast back onto it, one doc-keyed sum: every
    * stage is a narrow shuffle of ALREADY term-filtered postings.
    * Scores round to 6 decimals and ties break on doc_id, so results
    * are deterministic and engine-comparable. */
  def searchBm25(spark: SparkSession, root: String,
      query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "empty query")
    val (n, avgdl) = corpusStats(spark, root)
    val p = livePostings(spark, root, query.distinct)
    scoreBm25(p, n, avgdl, k1, b)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** CONJUNCTIVE (AND) top-k: only documents containing EVERY query
    * term are scored — the boolean-retrieval shape real search needs
    * (BM25 over an OR of terms surfaces docs missing half the query).
    * Membership is one per-doc distinct-term count over the SAME
    * pruned postings the scorer reads, so the AND costs nothing
    * beyond the OR's IO: the scan still reads ~|terms|/buckets of the
    * postings, and the filter is a doc-keyed semi join of
    * already-term-filtered rows. Scores and tie-breaks are the
    * [[searchBm25]] contract, so AND results are a subset of the OR
    * ranking restricted to full matches. */
  def searchAnd(spark: SparkSession, root: String,
      query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "empty query")
    val terms = query.distinct
    val (n, avgdl) = corpusStats(spark, root)
    val p = livePostings(spark, root, terms)
    val full = p.groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("__nt"))
      .filter(col("__nt") === terms.size)
      .select(col("doc_id"))
    // df stays the OR scan's (all live docs holding the term), so AND
    // scores are bit-identical to the OR ranking's — the semi join
    // only restricts WHICH docs surface
    scoreBm25(p, n, avgdl, k1, b)
      .join(full, Seq("doc_id"), "left_semi")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** PHRASE top-k: only documents containing the EXACT consecutive
    * token sequence `phrase` (under the index's analyzer) are scored —
    * the positional-postings query classic retrieval needs beyond
    * bag-of-words. Matching reads NOTHING beyond the AND search's
    * pruned scan: each phrase slot filters the same term-pruned
    * postings, slots join doc-keyed (|phrase| joins of tiny rows), and
    * adjacency is one array expression over the per-doc position
    * lists — `∃ p ∈ pos(t_0): p+i ∈ pos(t_i) ∀i`. Scores and
    * tie-breaks are the [[searchBm25]] contract over the phrase's
    * distinct terms, so phrase results are that OR ranking restricted
    * to phrase matches. */
  def searchPhrase(spark: SparkSession, root: String,
      phrase: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val terms = phrase.distinct
    val (n, avgdl) = corpusStats(spark, root)
    val p = livePostings(spark, root, terms)
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      p.filter(col("term") === t)
        .select(col("doc_id"), col("pos").as(s"__p$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, Seq("doc_id")))
    val adj =
      if (phrase.size == 1) lit(true)
      else expr("exists(__p0, x -> " +
        (1 until phrase.size)
          .map(i => s"array_contains(__p$i, x + $i)")
          .mkString(" AND ") + ")")
    val matches = joined.filter(adj).select(col("doc_id")).distinct()
    scoreBm25(p, n, avgdl, k1, b)
      .join(matches, Seq("doc_id"), "left_semi")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** (N, avgdl) from the additive stats journal. */
  private def corpusStats(spark: SparkSession, root: String)
  : (Long, Double) = {
    val st = SnapshotTable.read(spark, statsRoot(root))
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    val n = st.getLong(0)
    (n, st.getLong(1).toDouble / n)
  }

  /** The LIVE postings of `terms`: one bucket-pruned scan (the
    * `term IN (...)` filter hashes to its buckets at plan time), with
    * tombstoned postings removed BEFORE df is counted, so df/N/avgdl
    * behave as if removed docs were never indexed. A tombstone kills
    * only postings with era < cut — the era a CDC re-insert (MOR
    * update) carries equals its delete's cut, so updates net to the
    * new text. The dels set is bounded by removals since the last
    * rebuild; no broadcast hint — AQE measures it (the decontaminate
    * discipline). */
  private def livePostings(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame = {
    val p0 = spark.read.format("graft-snapshot").option("path", root)
      .load()
      .filter(col("term").isin(terms: _*))
    if (SnapshotTable.currentVersion(spark, delsRoot(root)) == 0L) p0
    else {
      val cuts = SnapshotTable.read(spark, delsRoot(root))
        .groupBy(col("doc_id")).agg(max(col("cut")).as("__cut"))
      p0.join(cuts, Seq("doc_id"), "left_outer")
        .filter(col("__cut").isNull || col("era") >= col("__cut"))
        .drop("__cut")
    }
  }

  /** BM25-score live postings → (doc_id, score); df(term) = the
    * term's posting count, computed from the same pruned rows the
    * scorer reads (broadcast: at most |query| rows). */
  private def scoreBm25(p: DataFrame, n: Long, avgdl: Double,
      k1: Double, b: Double): DataFrame = {
    val dfT = p.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    p.join(broadcast(dfT), "term")
      .withColumn("idf",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 6).as("score"))
  }
}
