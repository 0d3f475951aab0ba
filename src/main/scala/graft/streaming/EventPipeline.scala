package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Streaming ingest pipeline (SURVEY.md §2.6 / §7 M3): the reference's
  * Kafka → parse → flatten → categorize → quality → append-sink flow
  * (`services/streaming-service/event_processor.py:19-168`,
  * `api.py:284-347`) as pure DataFrame→DataFrame passes that work
  * identically on a batch frame, a MemoryStream, a file stream, or a
  * Kafka stream — the composition is the engine surface, the source is a
  * parameter.
  *
  * Extensions over the reference (explicitly absent there, SURVEY §2.6):
  * event-time watermarking, tumbling-window counts, and
  * at-least-once → effectively-once dedup via
  * `dropDuplicatesWithinWatermark` (the reference re-ingests overlapping
  * GitHub poll pages and never dedups, `producer/github/client.py:33-88`).
  *
  * Scale notes: the pipeline is stateless narrow ops (parse/flatten/
  * filter) — scales with source partitions, no shuffle until the windowed
  * aggregation, which is keyed by (window, event_type) with watermark-led
  * state eviction. The sink partitions by processing date/hour
  * (`api.py:228-238`) so downstream scans prune by partition.
  */
object EventPipeline {

  /** Nested input event schema — mirror of the reference's StructType
    * (`services/streaming-service/schema.py:38-48`). */
  val inputSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("actor", StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("login", StringType, nullable = true),
      StructField("display_login", StringType, nullable = true),
      StructField("gravatar_id", StringType, nullable = true),
      StructField("url", StringType, nullable = true),
      StructField("avatar_url", StringType, nullable = true))),
      nullable = true),
    StructField("repo", StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("url", StringType, nullable = true))), nullable = true),
    StructField("org", StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("login", StringType, nullable = true),
      StructField("gravatar_id", StringType, nullable = true),
      StructField("url", StringType, nullable = true),
      StructField("avatar_url", StringType, nullable = true))),
      nullable = true),
    StructField("payload", MapType(StringType, StringType), nullable = true),
    StructField("public", BooleanType, nullable = true),
    StructField("created_at", StringType, nullable = true),
    StructField("processed_at", StringType, nullable = true)))

  /** Event-type → category mapping — literal transcription of the
    * reference's EVENT_TYPE_CATEGORIES dict
    * (`services/streaming-service/schema.py:99-116`): 15 event types
    * into 6 categories, anything unmapped → "other" (P6). Kept as data
    * (not a hand-rolled when-chain) so the spec can table-drive every
    * entry against the same source of truth. */
  val EventTypeCategories: Seq[(String, String)] = Seq(
    "PushEvent" -> "code",
    "PullRequestEvent" -> "code",
    "IssuesEvent" -> "issues",
    "IssueCommentEvent" -> "issues",
    "WatchEvent" -> "social",
    "ForkEvent" -> "social",
    "CreateEvent" -> "repository",
    "DeleteEvent" -> "repository",
    "PublicEvent" -> "repository",
    "ReleaseEvent" -> "releases",
    "MemberEvent" -> "collaboration",
    "TeamEvent" -> "collaboration",
    "CommitCommentEvent" -> "code",
    "PullRequestReviewEvent" -> "code",
    "PullRequestReviewCommentEvent" -> "code")

  def categorizeGithub(c: Column): Column = {
    val byCategory = EventTypeCategories.groupBy(_._2).toSeq.sortBy(_._1)
    byCategory
      .foldLeft(Option.empty[Column]) { case (acc, (cat, entries)) =>
        val cond = c.isin(entries.map(_._1): _*)
        Some(acc.fold(when(cond, cat))(_.when(cond, cat)))
      }
      .get
      .otherwise("other")
  }

  /** P1: parse raw JSON (Kafka value / stream line) against the declared
    * schema; unparseable rows are dropped (`event_processor.py:33-36`). */
  def parse(raw: DataFrame): DataFrame =
    raw.select(col("value").cast("string").as("raw_json"))
      .withColumn("event", from_json(col("raw_json"), inputSchema))
      .filter(col("event").isNotNull && col("event.id").isNotNull)

  /** Quarantine variant of [[parse]]: instead of silently DROPPING
    * malformed rows, split the feed into (parsed, quarantined). The
    * quarantine side keeps the raw line plus a reason — at ingest scale,
    * "0.3 % of rows failed to parse and here they are" is an operable
    * signal, while a silent drop is a data-loss bug nobody can audit.
    * Both frames come from ONE pass over the source (the split is two
    * filters over the same parsed projection; Spark schedules them as
    * two consumers of the shared scan, or the caller persists the parsed
    * frame when the source does not re-read cheaply). */
  def parseWithQuarantine(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = raw.select(col("value").cast("string").as("raw_json"))
      .withColumn("event", from_json(col("raw_json"), inputSchema))
    val good = parsed.filter(col("event").isNotNull &&
      col("event.id").isNotNull)
    // from_json is PERMISSIVE (all-null struct for bad JSON, not a null
    // struct), so malformed-vs-missing-id needs a real JSON validity
    // probe: try_parse_json returns NULL iff the text is not JSON
    val bad = parsed.filter(col("event").isNull ||
        col("event.id").isNull)
      .select(col("raw_json"),
        when(expr("try_parse_json(raw_json)").isNull,
          lit("malformed_json"))
          .otherwise(lit("missing_id")).as("reason"))
    (good, bad)
  }

  /** P2–P9: flatten to the 26-column storage row
    * (`schema.py:57-95`, `event_processor.py:48-166`), including payload
    * JSONPath extracts from the raw JSON (P4), quality flags (P8), and
    * processing-time partition columns (P5). */
  def flatten(parsed: DataFrame): DataFrame =
    parsed.select(
      col("event.id").as("event_id"),
      col("event.type").as("event_type"),
      categorizeGithub(col("event.type")).as("event_category"),
      to_timestamp(col("event.created_at")).as("created_at"),
      to_timestamp(col("event.processed_at")).as("processed_at"),
      col("event.actor.id").as("actor_id"),
      col("event.actor.login").as("actor_login"),
      col("event.actor.avatar_url").as("actor_avatar_url"),
      col("event.repo.id").as("repo_id"),
      col("event.repo.name").as("repo_name"),
      col("event.repo.url").as("repo_url"),
      col("event.org.id").as("org_id"),
      col("event.org.login").as("org_login"),
      col("event.public").as("is_public"),
      col("event.actor.id").isNotNull.as("has_actor"),
      col("event.repo.id").isNotNull.as("has_repo"),
      col("event.org.id").isNotNull.as("has_org"),
      get_json_object(col("raw_json"), "$.payload.action").as("action"),
      get_json_object(col("raw_json"), "$.payload.ref").as("ref"),
      get_json_object(col("raw_json"), "$.payload.ref_type").as("ref_type"),
      get_json_object(col("raw_json"), "$.payload.master_branch")
        .as("master_branch"),
      get_json_object(col("raw_json"), "$.payload.description")
        .as("description"),
      get_json_object(col("raw_json"), "$.payload.pusher_type")
        .as("pusher_type"),
      get_json_object(col("raw_json"), "$.payload").as("payload_json"),
      date_format(col("event.created_at").cast("timestamp"), "yyyy-MM-dd")
        .as("processing_date"),
      hour(col("event.created_at").cast("timestamp"))
        .as("processing_hour"))

  /** P7: conjunctive data-quality filter (`event_processor.py:117-121`). */
  def qualityFilter(flat: DataFrame): DataFrame =
    flat.filter(col("event_id").isNotNull && col("event_type").isNotNull &&
      col("created_at").isNotNull)

  /** Full ingest composition — works for both batch and streaming
    * frames. NOTE: the reference partitions by *processing* time
    * (`event_processor.py:84-85`, an anti-pattern — every query filters
    * created_at and prunes nothing, SURVEY §4); we derive the partition
    * columns from event time instead so partition pruning works. */
  def pipeline(raw: DataFrame): DataFrame =
    qualityFilter(flatten(parse(raw)))

  /** Dedup the at-least-once feed on event_id within the watermark —
    * the dedup the reference skips (§2.6 "delivery"). */
  def deduped(flat: DataFrame, watermark: String = "10 minutes"): DataFrame =
    flat.withWatermark("created_at", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming analogue of the batch hourly bucketing (A5): event-time
    * tumbling window + watermark. */
  def windowedCounts(flat: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    flat.withWatermark("created_at", watermark)
      .groupBy(window(col("created_at"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))

  /** Streaming sessionization via the built-in gap-based
    * `session_window` (the declarative sibling of the
    * flatMapGroupsWithState sessionizer in [[StatefulSessions]]): one
    * row per (actor, session), state evicted by watermark. In append
    * mode a session emits once the watermark passes its close. */
  def sessionCounts(flat: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    flat.withWatermark("created_at", watermark)
      .groupBy(session_window(col("created_at"), gap), col("actor_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("actor_id"), col("n_events"))

  /** Stream-static enrichment join — the most common streaming pattern
    * after windowing: broadcast a small, slowly-changing dimension into
    * the stream. The static side is re-planned every micro-batch (a
    * refreshed dim snapshot is picked up on the next trigger) and
    * broadcast, so the unbounded stream side never shuffles and the
    * pipeline stays stateless-narrow. LEFT join on the stream-preserved
    * side keeps events with an unmapped category alive with null
    * attributes (and is always legal for stream-static joins — no
    * watermark requirement, unlike stream-stream outer joins). */
  def enriched(flat: DataFrame, categoryDim: DataFrame): DataFrame =
    flat.join(broadcast(categoryDim), Seq("event_category"), "left")

  /** In-flight data-quality metrics (`Dataset.observe`): the named
    * aggregates ride the existing plan — NO extra pass over the data,
    * which is the only acceptable cost for always-on quality counters
    * at 100 TB — and each micro-batch's values arrive on the listener
    * bus in `QueryProgressEvent.observedMetrics("graft_quality")`
    * (captured by [[Monitoring.ProgressMonitor]]). */
  def withQualityMetrics(flat: DataFrame): DataFrame =
    flat.observe("graft_quality",
      count(lit(1)).as("rows"),
      sum(when(col("actor_id").isNull, 1L).otherwise(0L)).as("null_actor"),
      sum(when(col("org_id").isNull, 1L).otherwise(0L)).as("null_org"))

  /** Post-commit TABLE-stats staleness per sink target — the metadata
    * counterpart of [[withQualityMetrics]]. `observe()` can only
    * aggregate the streamed ROWS; stats staleness is a property of
    * the table AFTER the commit (the fraction of data files missing
    * column sketches, [[graft.sources.SnapshotTable.statsStaleness]]),
    * so the snapshot sinks record it here after every batch — a
    * metadata-only read, O(manifest). Ingest jobs poll
    * [[lastStatsStaleness]] (or alert on the WARN log line) to catch
    * stats drift while it is still a maintenance task, not after it
    * has silently degraded every downstream join estimate; with
    * auto-analyze enabled the recorded value also proves the
    * maintenance actually ran (it returns to 0 after each trigger). */
  private val staleness =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def lastStatsStaleness(tableRoot: String): Option[Double] =
    Option(staleness.get(tableRoot))

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  private def recordStaleness(s: org.apache.spark.sql.SparkSession,
      tableRoot: String): Unit = try {
    val frac = graft.sources.SnapshotTable.statsStaleness(s, tableRoot)
    staleness.put(tableRoot, frac)
    if (frac > 0.5)
      log.warn(
        s"graft stats staleness $frac at $tableRoot — run CALL " +
          "analyze or enable spark.graft.stats.analyze.auto")
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Stream-stream interval join — the stateful two-sided join family
    * (nothing in the repo covered it before; stream-static `enriched`
    * handles only a bounded dim side). Attributes each "effect" event
    * to the same actor's "cause" events within the preceding `horizon`.
    *
    * Both sides carry watermarks AND the join condition bounds event
    * time on both sides; that pair is what lets Spark evict join state
    * once the watermark passes `cause_ts + horizon` — the difference
    * between bounded state and a state store that grows with the whole
    * stream. Inner join: matches emit as soon as both rows arrive;
    * unmatched rows silently age out of state. Keyed by actor, so state
    * and compute shard across executors like every other keyed op. */
  def streamIntervalJoin(causes: DataFrame, effects: DataFrame,
      horizon: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    intervalJoin(causes, effects, horizon, watermark, "inner")

  /** Shared core of the interval-join pair — one place owns the
    * watermark/condition shape both variants' state eviction relies on. */
  private def intervalJoin(causes: DataFrame, effects: DataFrame,
      horizon: String, watermark: String, joinType: String): DataFrame = {
    val c = causes.select(col("actor_id").as("cause_actor"),
        col("created_at").as("cause_ts"), col("event_id").as("cause_id"))
      .withWatermark("cause_ts", watermark)
    val e = effects.select(col("actor_id").as("effect_actor"),
        col("created_at").as("effect_ts"), col("event_id").as("effect_id"))
      .withWatermark("effect_ts", watermark)
    e.join(c,
        col("cause_actor") === col("effect_actor") &&
          col("cause_ts") <= col("effect_ts") &&
          col("cause_ts") >= col("effect_ts") - expr(s"INTERVAL $horizon"),
        joinType)
      .select(col("effect_id"), col("effect_actor").as("actor_id"),
        col("effect_ts"), col("cause_id"), col("cause_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — the attribution query
    * where "no cause within the horizon" is itself the answer (organic
    * vs attributed). Same bounded-state shape as the inner variant, plus
    * the outer contract: an unmatched effect row CANNOT emit when it
    * arrives (a matching cause may still be in flight) — it emits with
    * null cause columns only once the watermark proves no such cause can
    * come. Null-emission latency therefore equals the watermark delay;
    * that is the price of correctness, not an implementation lag, and
    * the state store still evicts exactly like the inner join. */
  def streamIntervalJoinLeftOuter(causes: DataFrame, effects: DataFrame,
      horizon: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    intervalJoin(causes, effects, horizon, watermark, "leftOuter")

  /** foreachBatch UPSERT sink — the production pattern for sinks whose
    * semantics the built-in writers can't express (merge/dedup/multi-
    * table writes): each micro-batch arrives as an ordinary DataFrame
    * and is merged by key instead of blindly appended. Here the merge
    * is insert-if-absent on event_id: the batch self-dedupes, then
    * anti-joins the sink's existing keys, so replays (at-least-once
    * delivery, checkpoint restarts) never duplicate a row — effectively
    * exactly-once per key end-to-end.
    *
    * Scale note: the existing-keys read is the plain-parquet stand-in
    * for a real MERGE target; production would bound it by partition
    * pruning (join only the partitions the batch touches) or use a
    * table format's MERGE INTO, which is this same foreachBatch shape
    * with a transactional key lookup. */
  def upsertSink(flat: DataFrame, path: String, checkpoint: String)
  : DataStreamWriter[Row] =
    flat.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(SinkSession.foreachBatch(flat.sparkSession) {
        (s, batch, _) =>
        val fresh = batch.dropDuplicates("event_id")
        val existing =
          try s.read.parquet(path).select(col("event_id")).distinct()
          catch { case _: org.apache.spark.sql.AnalysisException =>
            s.emptyDataFrame.withColumn("event_id", lit("")) // no sink yet
              .limit(0)
          }
        fresh.join(existing, Seq("event_id"), "left_anti")
          .write.mode("append").parquet(path)
      })

  /** The full lakehouse loop as ONE sink: each micro-batch (1) MERGEs
    * into a [[graft.sources.SnapshotTable]] by event_id — replay-safe
    * upsert with snapshot isolation, the transactional MERGE target the
    * plain-parquet `upsertSink` stands in for — and (2) incrementally
    * refreshes a keyed [[graft.sources.MaterializedView]] rollup from
    * the table's diff. Stream → versioned table → always-fresh
    * materialization.
    *
    * Cost/consistency contract (round 7: O(batch), not O(table)):
    *  - The view aggregation is incremental (delta rows only) AND the
    *    manifest-based SnapshotTable underneath makes the IO match:
    *    MERGE prunes on per-file key stats, so a batch of fresh
    *    event_ids rewrites ZERO existing files (pure append of the
    *    batch's segment; a replayed batch touches only the files
    *    holding its keys), and the MV's diff reads only the files the
    *    commit added. Both properties are spec-pinned across a growing
    *    table (see "lakehouse loop IO stays FLAT"). This is the
    *    file-level-MERGE + changelog IO profile the reference buys
    *    from Iceberg, delivered by the engine's own table layer.
    *  - Each artifact is individually consistent at every instant
    *    (atomic commits), but table and view are SEPARATE commits: a
    *    reader can observe table version N+1 beside a rollup of N for
    *    the inter-commit window (or until a crashed batch replays) —
    *    and `MaterializedView.isStale` reports exactly that state.
    *  - Empty batches (e.g. every row failed the quality filter) are
    *    skipped outright: no table version, no view churn.
    *  - Every job of a batch runs on `flat`'s session, not on the clone
    *    the query started ([[SinkSession]]): the codegen cache key
    *    includes the task classloader, which is per session, and each
    *    AvailableNow round starts a query, i.e. a new clone. On the
    *    clone a warmed round recompiled ~38 generated classes; on the
    *    owner it compiles none. */
  def snapshotMvSink(flat: DataFrame, tableRoot: String,
      viewRoot: String, keys: Seq[String], sumCols: Seq[String],
      checkpoint: String): DataStreamWriter[Row] =
    flat.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(SinkSession.foreachBatch(flat.sparkSession) {
        (s, batch, _) =>
        // persist: the deduped batch feeds BOTH sides of the merge plan
        // (anti-join keys + union branch); without it the upstream
        // parse/flatten subtree evaluates twice per commit
        val fresh = batch.dropDuplicates("event_id").persist()
        try {
          if (!fresh.isEmpty) {
            graft.sources.SnapshotTable.merge(s, tableRoot, fresh,
              "event_id")
            graft.sources.MaterializedView.refreshIncremental(s,
              graft.sources.MaterializedView.IncrementalView(
                tableRoot, viewRoot, keys, sumCols))
          }
        } finally fresh.unpersist()
      })

  /** Merge-on-read variant of the lakehouse sink: each micro-batch
    * lands via [[graft.sources.SnapshotTable.mergeOnRead]] — the commit
    * writes ONLY the batch's segment plus (when the batch's keys can
    * touch existing files) a key tombstone. No existing data file is
    * opened even when the batch UPDATES existing keys — exactly the
    * case where [[snapshotMvSink]]'s copy-on-write merge must rewrite
    * every touched file. Write cost is therefore O(batch)
    * unconditionally: fresh-key batches take mergeOnRead's provable
    * all-inserts branch (pure append, no tombstone), replayed or
    * late-update batches pay one extra tombstone file. This is the
    * `write.merge.mode=merge-on-read` profile the reference configures
    * on its Iceberg tables, delivered by the engine's own table layer.
    *
    * The read-side price (the tombstone join) is bounded by compacting
    * every `compactEvery` versions: compaction materializes the merged
    * state, clears every tombstone and re-clusters on the key so
    * manifest stats stay tight for the next merge. Readers are
    * unaffected mid-compaction (it is just another CAS commit). */
  def snapshotMorSink(flat: DataFrame, tableRoot: String,
      checkpoint: String, compactEvery: Int = 16)
  : DataStreamWriter[Row] =
    flat.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(SinkSession.foreachBatch(flat.sparkSession) {
        (s, batch, _) =>
        // persist: the batch feeds both the staged segment and the
        // all-inserts manifest check
        val fresh = batch.dropDuplicates("event_id").persist()
        try {
          if (!fresh.isEmpty) {
            val v = graft.sources.SnapshotTable.mergeOnRead(s, tableRoot,
              fresh, "event_id")
            if (v % compactEvery == 0)
              graft.sources.SnapshotTable.compact(s, tableRoot,
                clusterKey = Some("event_id"))
          }
        } finally fresh.unpersist()
        recordStaleness(s, tableRoot)
      })

  /** Bucketed-ingest sink: each micro-batch appends INTO the target
    * table's declared hash-bucket layout via
    * [[graft.sources.SnapshotTable.appendBucketed]], so the streamed
    * table keeps reporting `KeyGroupedPartitioning` and
    * storage-partitioned joins against co-bucketed tables stay
    * exchange-free through the WHOLE ingest history — no compaction
    * required between stream and query. (A plain append sink would
    * land bucket-less files and silently degrade every downstream SPJ
    * to a shuffle until maintenance re-buckets; at 100 TB that shuffle
    * is the single biggest join cost, which is the point of bucketing
    * in the first place.)
    *
    * Exactly-once per batch: Spark replays a restarted micro-batch
    * with the SAME batch id, and the commit stamps `(appId, batchId)`
    * into the manifest atomically with the data
    * ([[graft.sources.SnapshotTable.lastCommittedTxn]]) — a replayed
    * batch is recognized and skipped, so at-least-once delivery plus
    * the transactional marker composes to exactly-once appends. This
    * is Delta's txnAppId/txnVersion idempotent-writer handshake,
    * re-expressed on the manifest protocol. Write cost is O(batch):
    * one bucket-clustered shuffle of the batch, ≤ bucket-count files
    * added, zero prior files read or rewritten. */
  def snapshotBucketedSink(flat: DataFrame, tableRoot: String,
      checkpoint: String, appId: String): DataStreamWriter[Row] =
    flat.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(SinkSession.foreachBatch(flat.sparkSession) {
        (s, batch, batchId) =>
        val replayed = graft.sources.SnapshotTable
          .lastCommittedTxn(s, tableRoot, appId).exists(_ >= batchId)
        if (!replayed && !batch.isEmpty)
          graft.sources.SnapshotTable.appendBucketed(s, tableRoot,
            batch, txn = Some((appId, batchId)))
        recordStaleness(s, tableRoot)
      })

  /** Identity-partitioned ingest sink: each micro-batch appends INTO
    * the target table's declared `PARTITIONED BY (col)` layout via
    * [[graft.sources.SnapshotTable.appendPartitioned]] — new files
    * stay VALUE-PURE, so through the whole ingest history the
    * streamed table keeps (a) exact partition pruning, (b) the
    * manifest-answered `GROUP BY key` / filtered COUNT (zero data
    * IO), and (c) `KeyGroupedPartitioning(identity)` joins. This is
    * THE canonical 100 TB ingest shape: events stream into a
    * day/tenant-partitioned lakehouse table and the dashboard's
    * "rows per partition" stays a metadata read while the stream
    * runs. Exactly-once composes the same way as the bucketed sink:
    * the `(appId, batchId)` marker commits atomically with the data,
    * so a replayed micro-batch is recognized and skipped. Write cost
    * is O(batch): one value-clustered shuffle of the batch, one file
    * per distinct partition value in the batch, zero prior files
    * touched. */
  def snapshotPartitionedSink(flat: DataFrame, tableRoot: String,
      checkpoint: String, appId: String): DataStreamWriter[Row] =
    flat.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(SinkSession.foreachBatch(flat.sparkSession) {
        (s, batch, batchId) =>
        val replayed = graft.sources.SnapshotTable
          .lastCommittedTxn(s, tableRoot, appId).exists(_ >= batchId)
        if (!replayed && !batch.isEmpty)
          graft.sources.SnapshotTable.appendPartitioned(s, tableRoot,
            batch, txn = Some((appId, batchId)))
        recordStaleness(s, tableRoot)
      })

  /** Fixture-events ingest — the same parse→flatten→quality composition
    * specialized to the fixture `events` table shape (`event_id, ts,
    * user_id, event_type, value, props`), so the streamed sink output is
    * directly consumable by every batch `events_*` operator through
    * `Tables.load`. This closes the reference's two-process architecture
    * into one tested flow: the streaming service writes parquet and the
    * api service queries it (`services/streaming-service/api.py:312-318`
    * → `services/api-service/data_service.py:125`); here ingest's output
    * IS analytics' input, with result equality proven in
    * EventPipelineSpec. The sink stores ts as int64 epoch-nanos — the
    * fixture's physical format — so the one loader serves both the
    * generated fixture and the engine's own sink. */
  val fixtureEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", StringType, nullable = false),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))

  def fixtureEventsPipeline(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), fixtureEventSchema)
        .as("e"))
      .filter(col("e").isNotNull && col("e.event_id").isNotNull &&
        col("e.ts").isNotNull && col("e.event_type").isNotNull)
      .select(
        col("e.event_id").as("event_id"),
        to_timestamp(col("e.ts")).as("ts_t"),
        col("e.user_id").as("user_id"),
        col("e.event_type").as("event_type"),
        col("e.value").as("value"),
        col("e.props").as("props"))
      .select(col("event_id"),
        (unix_micros(col("ts_t")) * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"),
        // event-time partition columns (P5) — same pruning-friendly
        // choice as the github pipeline, same sink partitionBy
        date_format(col("ts_t"), "yyyy-MM-dd").as("processing_date"),
        hour(col("ts_t")).as("processing_hour"))

  /** S3: append sink partitioned for pruning, with checkpointing.
    *
    * `availableNow = true` is the production BACKFILL/catch-up mode
    * (`Trigger.AvailableNow`): process everything pending as of query
    * start — rate-limited into normal micro-batches, unlike the
    * deprecated Once trigger's single giant batch — then stop. Same
    * checkpoint as the continuous mode, so a nightly catch-up run and
    * a live run are interchangeable against one sink. */
  def parquetSink(flat: DataFrame, path: String, checkpoint: String,
      triggerMs: Long = 2000L,
      availableNow: Boolean = false): DataStreamWriter[Row] =
    flat.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("processing_date", "processing_hour")
      .trigger(if (availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(triggerMs))
}
