package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable
import graft.streaming.SinkSession

/** A persisted IVF (inverted-file) vector index, stored as a
  * cell-identity-partitioned snapshot table — approximate
  * nearest-neighbor search as a lakehouse primitive, the embedding
  * twin of [[TextIndex]].
  *
  * Build: a bit-deterministic Lloyd model ([[Dedup.lloydModel]] — the
  * SemDeDup trainer) quantizes the corpus into `nlist` cells; the
  * assignment pass is map-side zero-Exchange (`graft_nearest` over a
  * 1-row broadcast model), and `(vec_id, cell, v)` commits
  * IDENTITY-PARTITIONED on `cell`, so every data file is value-pure
  * on its cell id. Centroids persist exactly (parquet doubles) in a
  * `<root>_cents` sidecar table.
  *
  * Search: rank cells by query↔centroid cosine, take the top
  * `nprobe`, and read the index with `cell IN (<probed>)` — a filter
  * the scan CONSUMES exactly (value-pure files), so a probe plans
  * `nprobe`-cells' files and Spark re-evaluates nothing. At 100 TB
  * that is the IVF contract made literal: a search reads
  * ~nprobe/nlist of the corpus BYTES, decided from manifest metadata
  * before any IO. The probed cell-id list is collected to the driver
  * to become the plan literal — bounded by |queries|·nprobe, the
  * same broadcast-only-model discipline as every trainer here.
  *
  * Reference scope: extends the beyond-reference ANN family
  * (SURVEY.md §2's LLM-pipeline block) with the PERSISTED index shape
  * the in-query `knn_ivf` pipeline deliberately rebuilds per run. */
object VectorIndex {

  private val NListProp = "graft.vectorindex.nlist"
  private val CodecProp = "graft.vectorindex.codec" // absent | sq8

  private def centsRoot(root: String): String = root + "_cents"
  private def delsRoot(root: String): String = root + "_dels"
  private def sq8Root(root: String): String = root + "_sq8"
  private def rawRoot(root: String): String = root + "_raw"

  /** Index `vecs(vec_id, embedding)` at `root`: nlist cells, one
    * value-pure partition per cell. Replaces any prior index. Rows
    * carry an `era` — the index version the installment lands as
    * (0 for the build) — so a tombstone's cut can order a REMOVE
    * against a later re-add of the same id (the [[TextIndex]]
    * era/cut algebra, ported).
    *
    * `codec = Some("sq8")` stores SCALAR-QUANTIZED cells: each unit
    * vector's 8 B/dim doubles become 1 B/dim codes
    * (`graft_sq8_encode` against per-dimension [lo, hi] trained here
    * and persisted in a `<root>_sq8` sidecar), an 8× storage cut that
    * makes probe IO — not index SIZE — the cost of a search at 100 TB
    * of embeddings. Raw vectors move to a `<root>_raw` sidecar
    * (vec_id-clustered + bloomed) that search touches ONLY for the
    * ADC shortlist's exact re-rank — a point lookup, never a scan.
    * A rebuild also RESETS the maintenance-mode claim
    * ([[IndexMaintenance]]) — either timeline may maintain the fresh
    * index. */
  def build(spark: SparkSession, vecs: DataFrame, root: String,
      nlist: Int, iters: Int = 5, trainCap: Int = 2048,
      codec: Option[String] = None): Long = {
    require(codec.forall(_ == "sq8"), s"unsupported codec $codec")
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // the normalized corpus feeds training, the quantizer stats, the
    // raw sidecar AND the coded commit — up to four evaluations of
    // the scan+normalize without the persist; released before return
    val e = Dedup.unitVectors(vecs).persist()
    try {
    val cent = Dedup.lloydModel(e, nlist, iters, trainCap)
    val model = Seq(Tuple1(cent.map(_.toSeq).toSeq)).toDF("cents")
    val asg = e.crossJoin(broadcast(model))
      .selectExpr("vec_id", "graft_nearest(v, cents).cid AS cell", "v",
        "CAST(0 AS BIGINT) AS era")
    val v = codec match {
      case Some("sq8") =>
        // per-dimension [lo, hi] over the UNIT corpus: the quantizer
        // model — 2d doubles to the driver, never data
        val stats = e.select(posexplode(col("v")))
          .groupBy(col("pos"))
          .agg(min(col("col")).as("lo"), max(col("col")).as("hi"))
          .collect().map(r => (r.getInt(0), r.getDouble(1),
            r.getDouble(2))).sortBy(_._1)
        val sq8 = Seq((stats.map(_._2).toSeq, stats.map(_._3).toSeq))
          .toDF("qlo", "qhi")
        SnapshotTable.commit(spark, sq8Root(root), sq8)
        // the raw sidecar lands BEFORE the coded index: a crash
        // between the two leaves raw rows no probe reads (harmless);
        // the reverse order would leave coded rows whose shortlist
        // re-rank fetch comes back empty — a silent wrong answer
        SnapshotTable.commit(spark, rawRoot(root),
          e.select(col("vec_id"), col("v"),
            lit(0L).as("era")),
          clusterKey = Some("vec_id"), bloomKey = Some("vec_id"))
        SnapshotTable.commitPartitioned(spark, root,
          asg.crossJoin(broadcast(sq8))
            .selectExpr("vec_id", "cell",
              "graft_sq8_encode(v, qlo, qhi) AS code", "era"),
          "cell")
      case _ =>
        SnapshotTable.commitPartitioned(spark, root, asg, "cell")
    }
    val centDf = cent.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cent")
    SnapshotTable.commit(spark, centsRoot(root), centDf)
    // a rebuild IS the tombstone purge
    if (SnapshotTable.currentVersion(spark, delsRoot(root)) > 0L)
      SnapshotTable.commit(spark, delsRoot(root),
        spark.range(0).selectExpr("id AS vec_id", "id AS cut"))
    val base = SnapshotTable.tableProperties(spark, root) -
      IndexMaintenance.Prop - CodecProp + (NListProp -> nlist.toString)
    SnapshotTable.setProperties(spark, root,
      codec.fold(base)(c => base + (CodecProp -> c)))
    v
    } finally e.unpersist(blocking = false)
  }

  private def codecOf(spark: SparkSession, root: String)
  : Option[String] =
    SnapshotTable.tableProperties(spark, root).get(CodecProp)

  /** The persisted per-dimension [lo, hi] quantizer bounds as the
    * 1-row broadcast frame the encode/ADC expressions consume. */
  private def loadSq8(spark: SparkSession, root: String): DataFrame =
    SnapshotTable.read(spark, sq8Root(root)).select("qlo", "qhi")

  /** The era a NEW installment lands as: the version the next index
    * commit creates. Exact under the single-maintainer discipline
    * every index writer here assumes (the same line [[TextIndex]]'s
    * CDC path draws); a concurrent foreign commit only shifts eras
    * FORWARD, which keeps the `era >= cut` liveness test conservative
    * in the safe direction (a just-removed id stays removed). */
  private def nextEra(spark: SparkSession, root: String): Long =
    SnapshotTable.currentVersion(spark, root) + 1L

  /** Incrementally index vectors: assign against the PERSISTED model
    * (the quantizer never drifts under ingest — cells keep their
    * meaning), land value-pure via appendPartitioned so probes keep
    * pruning. A previously [[remove]]d id may be re-added: the new
    * rows' era is at or past every earlier tombstone's cut, so the
    * NEW vector is served. */
  def add(spark: SparkSession, vecs: DataFrame, root: String): Long = {
    IndexMaintenance.claim(spark, root, "manual")
    graft.functions.GraftFunctions.register(spark)
    val model = loadModel(spark, root)
    val codec = codecOf(spark, root)
    // sq8 consumes the normalized batch twice (raw sidecar + coded
    // commit) — persist so scan+normalize run once per installment
    val cachedE = codec.contains("sq8")
    val e = {
      val u = Dedup.unitVectors(vecs)
      if (cachedE) u.persist() else u
    }
    try {
      val era = nextEra(spark, root)
      val asg = e.crossJoin(broadcast(model))
        .selectExpr("vec_id", "graft_nearest(v, cents).cid AS cell", "v",
          s"CAST($era AS BIGINT) AS era")
      codec match {
        case Some("sq8") =>
          // raw first (same crash-order argument as build): a vector
          // whose dims fall outside the trained [lo, hi] SATURATES in
          // the code (Sq8Encode clamps) — the re-rank fetch serves the
          // exact raw vector either way
          SnapshotTable.append(spark, rawRoot(root),
            e.select(col("vec_id"), col("v"), lit(era).as("era")),
            clusterKey = Some("vec_id"))
          SnapshotTable.appendPartitioned(spark, root,
            asg.crossJoin(broadcast(loadSq8(spark, root)))
              .selectExpr("vec_id", "cell",
                "graft_sq8_encode(v, qlo, qhi) AS code", "era"))
        case _ =>
          SnapshotTable.appendPartitioned(spark, root, asg)
      }
    } finally if (cachedE) e.unpersist(blocking = false)
  }

  /** REMOVE vectors WITHOUT touching a single index file: ids land in
    * a `<root>_dels` tombstone set carrying the CUT they were issued
    * at, and [[search]] keeps only probed rows with `era >= cut` — so
    * everything indexed so far dies while a LATER [[add]] of the same
    * id (era at or past the cut) is served. No scoring state to
    * adjust (IVF has none — the quantizer is frozen), so deletion is
    * one tiny append; rebuild (`build`) is the physical purge and
    * clears the set. Manual ops stamp the INDEX-version timeline — do
    * not mix with [[applyChanges]] CDC maintenance (source-version
    * timeline) on one index; see the exclusivity note there. */
  def remove(spark: SparkSession, vecIds: DataFrame, root: String)
  : Long = {
    IndexMaintenance.claim(spark, root, "manual")
    val cut = nextEra(spark, root)
    SnapshotTable.append(spark, delsRoot(root),
      vecIds.select(col("vec_id"), lit(cut).as("cut")), files = 1)
  }

  /** EXACTLY-ONCE streaming maintenance: one micro-batch of new
    * vectors under an `(appId, batchId)` idempotence marker. Unlike
    * [[TextIndex]] there is no scoring-state journal — the quantizer
    * is frozen at build time — so a single marked commit IS the whole
    * batch and replay is a pure no-op. */
  def applyBatch(spark: SparkSession, root: String, vecs: DataFrame,
      appId: String, batchId: Long): Unit = {
    IndexMaintenance.claim(spark, root, "manual")
    val landed = SnapshotTable.lastCommittedTxn(spark, root, appId)
      .exists(_ >= batchId)
    graft.functions.GraftFunctions.register(spark)
    val codec = codecOf(spark, root)
    // sq8: the normalized batch feeds both commits — one pass
    val cachedE = codec.contains("sq8")
    val e = {
      val u = Dedup.unitVectors(vecs)
      if (cachedE) u.persist() else u
    }
    try {
      // the raw sidecar keeps ITS OWN idempotence marker (the TextIndex
      // two-commit pattern): a crash between the raw and coded commits
      // converges on replay — each table skips only what it already has
      val era = nextEra(spark, root)
      if (codec.contains("sq8") &&
          !SnapshotTable.lastCommittedTxn(spark, rawRoot(root), appId)
            .exists(_ >= batchId))
        SnapshotTable.append(spark, rawRoot(root),
          e.select(col("vec_id"), col("v"), lit(era).as("era")),
          clusterKey = Some("vec_id"), txn = Some((appId, batchId)))
      if (landed) return
      val model = loadModel(spark, root)
      val asg = e.crossJoin(broadcast(model))
        .selectExpr("vec_id", "graft_nearest(v, cents).cid AS cell", "v",
          s"CAST($era AS BIGINT) AS era")
      SnapshotTable.appendPartitioned(spark, root,
        if (codec.contains("sq8"))
          asg.crossJoin(broadcast(loadSq8(spark, root)))
            .selectExpr("vec_id", "cell",
              "graft_sq8_encode(v, qlo, qhi) AS code", "era")
        else asg,
        txn = Some((appId, batchId)))
      ()
    } finally if (cachedE) e.unpersist(blocking = false)
  }

  /** CDC MAINTENANCE: apply one micro-batch of the source embeddings
    * table's CHANGELOG (`changes=true` — insert rows carry new
    * vectors; a MOR update is its delete+insert pair at one
    * `_commit_version`). Two marked commits, each guarded by its own
    * `lastCommittedTxn`: insert assignments stamped
    * `era = _commit_version` and delete tombstones
    * `(vec_id, cut = _commit_version)`. The era/cut algebra nets an
    * update exactly — the old vector (`era < cut`) dies, the
    * replacement (`era = cut`) is served. Unlike [[TextIndex]] no
    * preImages are needed: IVF has no corpus-level scoring state, so
    * a delete is just the id. Replay no-ops per table; a crash
    * between the two commits converges on replay.
    *
    * TIMELINE EXCLUSIVITY: CDC rows are stamped on the SOURCE's
    * version timeline; the manual [[add]]/[[remove]] path stamps on
    * the index's own. The two orderings are incomparable — maintain
    * one index through exactly ONE of the modes (the same line
    * [[TextIndex]] draws; a rebuild resets either way). */
  def applyChanges(spark: SparkSession, root: String, batch: DataFrame,
      appId: String, batchId: Long): Unit = {
    IndexMaintenance.claim(spark, root, "cdc")
    val ver = col("_commit_version")
    val codec = codecOf(spark, root)
    // one evaluation of the changelog batch per tick (the emptiness
    // probes and every commit's scan otherwise re-open its files),
    // and ONE normalization pass on the sq8 path, where the unit
    // frame feeds both the raw sidecar and the coded commit. Both
    // caches release before returning — intra-tick intermediates.
    val cleanup = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val b = batch.persist(); cleanup += b
    try {
      val ins = b.filter(col("_change_type") === "insert")
        .select(col("vec_id"), col("embedding"), ver.as("__v"))
      // unit-normalize with the per-row version carried through (the
      // unitVectors helper drops extra columns; a vec_id join back
      // would mis-pair an id touched at several versions in one batch)
      lazy val unit = {
        val u = ins
          .selectExpr("vec_id", "__v",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS v0")
          .selectExpr("vec_id", "__v", "v0",
            "sqrt(aggregate(v0, CAST(0 AS DOUBLE), (a, x) -> a + x*x)) " +
              "AS nrm")
          .selectExpr("vec_id", "__v",
            "transform(v0, x -> x / greatest(nrm, " +
              "CAST(1e-300 AS DOUBLE))) AS v")
        if (codec.contains("sq8")) { val p = u.persist(); cleanup += p; p }
        else u
      }
      val anyIns = !ins.isEmpty
      // raw sidecar first, own marker (same two-commit convergence as
      // applyBatch). A CDC update's delete half needs no raw tombstone:
      // the re-rank fetch only ever looks up ids the ERA/CUT filter
      // already admitted, so a stale raw row for a dead id is never read
      // — the LATEST raw row per id wins the fetch (see search)
      if (anyIns && codec.contains("sq8") &&
          !SnapshotTable.lastCommittedTxn(spark, rawRoot(root), appId)
            .exists(_ >= batchId))
        SnapshotTable.append(spark, rawRoot(root),
          unit.select(col("vec_id"), col("v"), col("__v").as("era")),
          clusterKey = Some("vec_id"), txn = Some((appId, batchId)))
      if (anyIns &&
          !SnapshotTable.lastCommittedTxn(spark, root, appId)
            .exists(_ >= batchId)) {
        graft.functions.GraftFunctions.register(spark)
        val model = loadModel(spark, root)
        val asg = unit
          .crossJoin(broadcast(model))
          .selectExpr("vec_id", "graft_nearest(v, cents).cid AS cell",
            "v", "__v AS era")
        SnapshotTable.appendPartitioned(spark, root,
          if (codec.contains("sq8"))
            asg.crossJoin(broadcast(loadSq8(spark, root)))
              .selectExpr("vec_id", "cell",
                "graft_sq8_encode(v, qlo, qhi) AS code", "era")
          else asg,
          txn = Some((appId, batchId)))
      }
      val del = b.filter(col("_change_type") === "delete")
      if (!del.isEmpty &&
          !SnapshotTable.lastCommittedTxn(spark, delsRoot(root), appId)
            .exists(_ >= batchId)) {
        SnapshotTable.append(spark, delsRoot(root),
          del.select(col("vec_id"), ver.as("cut")), files = 1,
          txn = Some((appId, batchId)))
        ()
      }
    } finally cleanup.foreach(_.unpersist(blocking = false))
  }

  /** Accumulated tombstone rows, metadata-priced: the dels table only
    * ever sees appends (and the purge's replacing clear), so its
    * manifest row counts ARE the set size — no data IO per check. */
  private def delsRows(spark: SparkSession, root: String): Long = {
    val v = SnapshotTable.currentVersion(spark, delsRoot(root))
    if (v == 0L) return 0L
    val entries = SnapshotTable.manifest(spark, delsRoot(root), v)
      .filter(_.kind == "d")
    if (entries.forall(_.rows.isDefined)) entries.flatMap(_.rows).sum
    else SnapshotTable.read(spark, delsRoot(root)).count()
  }

  /** Metadata-only observability row for the `index_status` SQL
    * procedure: everything answers from table properties + manifest
    * row counts — zero data IO. */
  def status(spark: SparkSession, root: String): Map[String, String] = {
    val p = SnapshotTable.tableProperties(spark, root)
    Map(
      "kind" -> "vector",
      "version" -> SnapshotTable.currentVersion(spark, root).toString,
      "analyzer_or_codec" -> p.getOrElse(CodecProp, "raw"),
      "layout" -> ("nlist=" + p.getOrElse(NListProp, "?")),
      "dels" -> delsRows(spark, root).toString,
      "maintenance" -> p.getOrElse(IndexMaintenance.Prop, "unclaimed"))
  }

  /** PHYSICALLY PURGE tombstoned rows: rewrite the index to its LIVE
    * rows (the same era/cut filter [[search]] applies) and clear the
    * dels set — the rebuild-is-the-purge path WITHOUT retraining the
    * quantizer (centroids, cell layout, sidecars and the maintenance
    * claim all survive; probes keep pruning). Crash-safe in this
    * order: surviving rows all have `era >= `their cut, so a crash
    * between the rewrite and the dels clear just re-applies tombstones
    * that no longer kill anything. `txn` keeps the streaming
    * maintainer's replay guard across the REPLACING commit (the
    * markers on the replaced files are gone with them). */
  def purgeTombstones(spark: SparkSession, root: String,
      txn: Option[(String, Long)] = None): Unit = {
    if (SnapshotTable.currentVersion(spark, delsRoot(root)) == 0L) return
    val idx = SnapshotTable.read(spark, root)
    val cuts = SnapshotTable.read(spark, delsRoot(root))
      .groupBy(col("vec_id")).agg(max(col("cut")).as("__cut"))
    def liveOf(df: DataFrame): DataFrame =
      df.join(cuts, Seq("vec_id"), "left_outer")
        .filter(col("__cut").isNull || col("era") >= col("__cut"))
        .drop("__cut")
    // coded index: drop the raw sidecar's dead rows first (an update's
    // superseded vector has era < its cut) — rewriting raw before the
    // index is the safe crash order, since dead index rows keep being
    // filtered by the still-present dels either way
    if (codecOf(spark, root).contains("sq8"))
      SnapshotTable.commit(spark, rawRoot(root),
        liveOf(SnapshotTable.read(spark, rawRoot(root))),
        clusterKey = Some("vec_id"), bloomKey = Some("vec_id"))
    SnapshotTable.commitPartitionedOn(spark, root, liveOf(idx),
      Seq("cell"), txn = txn)
    SnapshotTable.commit(spark, delsRoot(root),
      spark.range(0).selectExpr("id AS vec_id", "id AS cut"))
    ()
  }

  /** The index as a MATERIALIZED VIEW of an embeddings snapshot
    * table: tail the source's changelog and keep the index consistent
    * through inserts, MOR deletes and MOR updates — exactly-once via
    * [[applyChanges]]'s per-table markers. Build from the source's
    * CURRENT state first and pass `startingVersion = thatVersion + 1`
    * so the bootstrap is not replayed.
    *
    * `purgeDelsAfter`: once the tombstone set holds at least this many
    * rows (checked from manifest metadata each tick), the sink runs
    * [[purgeTombstones]] — dels stay BOUNDED on an always-on feed
    * instead of growing until a manual rebuild (1,440 source commits/
    * day is 1,440 tombstone batches/day). */
  def cdcIndexSink(spark: SparkSession, sourceRoot: String,
      root: String, checkpoint: String, appId: String,
      startingVersion: Long, purgeDelsAfter: Option[Long] = None)
  : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-snapshot")
      .option("path", sourceRoot)
      .option("changes", "true")
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

  /** Streaming sink: keep the index at `root` (built beforehand) fresh
    * from a stream of `(vec_id, embedding)` rows — the embedding twin
    * of [[TextIndex.indexSink]], same idempotent-writer handshake.
    * `purgeDelsAfter` bounds the tombstone set as in [[cdcIndexSink]]
    * (manual [[remove]]s between batches accumulate dels too). */
  def indexSink(vecs: DataFrame, root: String, checkpoint: String,
      appId: String, purgeDelsAfter: Option[Long] = None)
  : org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(SinkSession.foreachBatch(vecs.sparkSession) {
        (s, batch, batchId) =>
        if (!batch.isEmpty)
          applyBatch(s, root, batch, appId, batchId)
        if (purgeDelsAfter.exists(_ <= delsRows(s, root)))
          purgeTombstones(s, root, txn = Some((appId, batchId)))
      })

  /** The persisted centroid matrix as the 1-row broadcast-model frame
    * the assignment/probe expressions consume. Validates the declared
    * `graft.vectorindex.nlist` table property against the sidecar's
    * actual centroid count — a partial build failure that left the
    * two diverged must fail loudly here, not mis-assign silently. */
  private def loadModel(spark: SparkSession, root: String): DataFrame = {
    val cents = SnapshotTable.read(spark, centsRoot(root))
    SnapshotTable.tableProperties(spark, root).get(NListProp)
      .foreach { declared =>
        val actual = cents.count()
        require(actual == declared.toLong,
          s"index at $root declares nlist=$declared but its centroid " +
            s"sidecar holds $actual cells — rebuild the index")
      }
    cents.agg(expr(
      "transform(array_sort(collect_list(struct(cell, cent)))" +
        ", p -> p.cent) AS cents"))
  }

  /** Approximate top-k neighbors for `queries(q_id, embedding)`:
    * probe the top-`nprobe` cells per query, exact cosine within
    * them. Output (q_id, rk, c_id, cos_r) — deterministic: the model
    * is bit-reproducible, cell ranking ties break on cell id, and
    * result ties on rounded cosine break on c_id.
    *
    * On an SQ8-coded index the probe scans 1 B/dim CODES and scores
    * by asymmetric distance (`graft_sq8_adc` — exact query against
    * the decoded candidate, fused, codegen), shortlists
    * max(4k, 16) per query, then re-ranks the shortlist EXACTLY from
    * the raw sidecar via a bloom-pruned point lookup
    * ([[SnapshotTable.readKeys]]) — the raw bytes read are
    * O(|queries|·shortlist), never O(index). */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val model = loadModel(spark, root)
    val qe = Dedup.unitVectors(
        queries.select(col("q_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    // rank cells per query against the broadcast model; the probe
    // set (q_id, cell) is tiny — |queries| × nprobe rows
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(desc("cent_cos"), asc("cell"))
    // no persist: the frame is |queries| × nprobe rows over a 1-row
    // broadcast model — re-deriving it for the collect AND the join
    // below is two trivially cheap map-side jobs, whereas a cached
    // relation would sit in the CacheManager (strong reference, never
    // context-cleaned) for the session lifetime per search call
    val probes = qe.crossJoin(broadcast(model))
      .select(col("q_id"), col("q_v"),
        posexplode(col("cents")).as(Seq("cell", "cent")))
      .selectExpr("q_id", "q_v", "cell",
        "graft_cosine(q_v, cent) AS cent_cos")
      .withColumn("cell_rk", row_number().over(wCell))
      .filter(col("cell_rk") <= nprobe)
      .select(col("q_id"), col("q_v"), col("cell"))
    // the union of probed cells becomes the scan's IN literal — the
    // consumed-filter path plans exactly those cells' files
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val codec = codecOf(spark, root)
    val payload = if (codec.contains("sq8")) "code" else "v"
    val idx0 = spark.read.format("graft-snapshot")
      .option("path", root).load()
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("vec_id").as("c_id"), col("cell"), col(payload),
        col("era"))
    // tombstones kill only probed rows with era < cut, so a remove
    // hides everything indexed before it while a later re-add of the
    // same id is served (the TextIndex era/cut algebra); the dels set
    // is bounded by removals since the last rebuild
    val idx =
      (if (SnapshotTable.currentVersion(spark, delsRoot(root)) == 0L)
        idx0
      else {
        val cuts = SnapshotTable.read(spark, delsRoot(root))
          .groupBy(col("vec_id")).agg(max(col("cut")).as("__cut"))
          .select(col("vec_id").as("c_id"), col("__cut"))
        idx0.join(cuts, Seq("c_id"), "left_outer")
          .filter(col("__cut").isNull || col("era") >= col("__cut"))
          .drop("__cut")
      }).drop("era")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("cos_r"), asc("c_id"))
    if (codec.contains("sq8")) {
      // ADC shortlist over the probed CODES — the only index bytes a
      // coded probe ever scans
      val wAdc = Window.partitionBy(col("q_id"))
        .orderBy(desc("acos"), asc("c_id"))
      val shortlist = idx.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("c_id"))
        .crossJoin(broadcast(loadSq8(spark, root)))
        .selectExpr("q_id", "q_v", "c_id",
          "graft_sq8_adc(q_v, code, qlo, qhi) AS acos")
        .withColumn("adc_rk", row_number().over(wAdc))
        .filter(col("adc_rk") <= math.max(4 * k, 16))
        .select(col("q_id"), col("q_v"), col("c_id"))
      // exact re-rank: point-lookup the shortlist ids in the raw
      // sidecar (bloom/stats-pruned — O(shortlist) bytes); the
      // NEWEST raw row per id is the one the era/cut filter served
      val ids = shortlist.select(col("c_id").as("vec_id")).distinct()
      val raws = SnapshotTable
        .readKeys(spark, rawRoot(root), "vec_id", ids)
        .groupBy(col("vec_id"))
        .agg(max_by(col("v"), col("era")).as("c_v"))
        .select(col("vec_id").as("c_id"), col("c_v"))
      shortlist.join(raws, Seq("c_id"))
        .selectExpr("q_id", "c_id",
          "round(graft_cosine(q_v, c_v), 6) AS cos_r")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("q_id"), col("rk"), col("c_id"), col("cos_r"))
        .orderBy(asc("q_id"), asc("rk"))
    } else
      idx.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("c_id"))
        .selectExpr("q_id", "c_id",
          "round(graft_cosine(q_v, v), 6) AS cos_r")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("q_id"), col("rk"), col("c_id"), col("cos_r"))
        .orderBy(asc("q_id"), asc("rk"))
  }
}
