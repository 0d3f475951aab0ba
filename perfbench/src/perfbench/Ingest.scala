package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.sources.{MaterializedView, SnapshotTable}
import graft.streaming.EventPipeline

/** Seeded event feed in the JSON shape of GitHub's `/events` API. Each
  * batch holds `size` lines: about 1 % malformed, about 10 % re-deliveries
  * of valid lines from the previous two batches (the overlapping polls of
  * the reference producer), the rest fresh events with ascending numeric
  * ids. Event types follow [[Feed.Types]], all 15 of
  * `EventPipeline.EventTypeCategories`. */
final class Feed(seed: Long, size: Int) {
  import Feed._
  private val rng = new java.util.Random(seed)
  private var nextId = 30000000000L
  private var clock = 1709251200L // 2024-03-01T00:00:00Z
  private val recent = mutable.Queue[IndexedSeq[String]]()
  /** Every distinct valid event id offered so far. */
  val validIds = mutable.HashSet[String]()

  private val cumulative = Types.scanLeft(0)(_ + _._2).tail
  private def pickType(): String = {
    val r = rng.nextInt(cumulative.last)
    Types(cumulative.indexWhere(r < _))._1
  }

  private def event(): (String, String) = {
    val id = nextId.toString
    nextId += 1 + rng.nextInt(3)
    clock += rng.nextInt(2)
    val typ = pickType()
    // actors and repos are heavy-tailed
    val actor = (math.pow(rng.nextDouble(), 3) * 50000).toInt + 1
    val repo = (math.pow(rng.nextDouble(), 2) * 90000).toInt + 1
    val org =
      if (rng.nextInt(10) < 3) {
        val o = 1 + rng.nextInt(400)
        s"""{"id":$o,"login":"org$o","gravatar_id":"","url":"https://api.github.com/orgs/org$o","avatar_url":"https://avatars.githubusercontent.com/u/$o"}"""
      } else "null"
    val ts = java.time.Instant.ofEpochSecond(clock).toString
    val payload = typ match {
      case "PushEvent" =>
        s"""{"ref":"refs/heads/main","size":"${1 + rng.nextInt(5)}","pusher_type":"user"}"""
      case "CreateEvent" | "DeleteEvent" =>
        s"""{"ref":"feature-${rng.nextInt(1000)}","ref_type":"branch","master_branch":"main","description":"a repository","pusher_type":"user"}"""
      case _ => s"""{"action":"${Actions(rng.nextInt(Actions.length))}"}"""
    }
    id -> (s"""{"id":"$id","type":"$typ","actor":{"id":$actor,"login":"u$actor","display_login":"u$actor","gravatar_id":"","url":"https://api.github.com/users/u$actor","avatar_url":"https://avatars.githubusercontent.com/u/$actor"},""" +
      s""""repo":{"id":$repo,"name":"o${repo % 997}/r$repo","url":"https://api.github.com/repos/o${repo % 997}/r$repo"},"org":$org,""" +
      s""""payload":$payload,"public":true,"created_at":"$ts"}""")
  }

  /** The next batch's lines, in delivery order. */
  def next(): IndexedSeq[String] = {
    val replayPool = recent.flatten.toIndexedSeq
    val nReplay = if (replayPool.isEmpty) 0 else math.round(size * ReplayShare).toInt
    val nBad = math.round(size * MalformedShare).toInt
    val fresh = IndexedSeq.fill(size - nReplay - nBad)(event())
    // a malformed line is a fresh event cut short: its id never lands
    val bad = IndexedSeq.fill(nBad) {
      val line = event()._2
      line.take(1 + rng.nextInt(line.length - 2))
    }
    val replays = IndexedSeq.fill(nReplay)(replayPool(rng.nextInt(replayPool.size)))
    fresh.foreach(e => validIds += e._1)
    recent.enqueue(fresh.map(_._2))
    if (recent.size > ReplayWindow) recent.dequeue()
    val lines = mutable.ArrayBuffer[String]() ++ fresh.map(_._2) ++ bad ++ replays
    for (i <- lines.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = lines(i); lines(i) = lines(j); lines(j) = t
    }
    lines.toIndexedSeq
  }
}

object Feed {
  /** Type shares in parts per thousand. An assumed skew toward
    * PushEvent, not measured from GitHub traffic; no source for the
    * shares is on record. */
  val Types: IndexedSeq[(String, Int)] = IndexedSeq(
    "PushEvent" -> 480, "CreateEvent" -> 120, "PullRequestEvent" -> 80,
    "IssueCommentEvent" -> 70, "WatchEvent" -> 70, "DeleteEvent" -> 40,
    "PullRequestReviewEvent" -> 30, "IssuesEvent" -> 30, "ForkEvent" -> 25,
    "PullRequestReviewCommentEvent" -> 25, "ReleaseEvent" -> 10,
    "CommitCommentEvent" -> 5, "PublicEvent" -> 5, "MemberEvent" -> 5,
    "TeamEvent" -> 5)
  val MalformedShare = 0.01
  val ReplayShare = 0.10
  val ReplayWindow = 2
  private val Actions =
    Array("opened", "closed", "created", "started", "published", "added")
}

/** `ingest`: closed-loop streamed rounds. Each round offers one batch and
  * drains it with one `Trigger.AvailableNow` run of `EventPipeline.pipeline`
  * into the shipping sink `EventPipeline.snapshotMvSink` (COW MERGE by
  * event_id plus an incremental per-event_type view), so round latency is
  * dominated by per-commit fixed cost while the table's history grows.
  *
  * With tracing the shipping sink is replaced by [[composedSink]], which
  * makes the same public calls with one span each; a drift guard then
  * replays the first rounds through the shipping sink and requires the
  * same table rows, view rows, versions and Spark jobs per round. */
object Ingest {
  /** Events per round, from the reference producer: it fetches at most
    * 100 events (`MAX_EVENTS_PER_FETCH`) every 3 s, and the stream's 2 s
    * trigger drains at most one fetch per micro-batch (SURVEY.md §6). */
  val BatchSize = 100
  /** Rounds run before the clock starts. Rounds keep getting faster while
    * the JIT compiles the commit path: from about 9 s cold to 3.2 s after
    * three rounds and 2.4 s after seven, then by about 0.03 s a round. */
  val WarmupRounds = 5
  val GuardRounds = 3
  private val Keys = Seq("event_type")
  private val Sums = Seq("actor_id")

  private final class Lake(val base: String) {
    val table = s"$base/events_t"
    val view = s"$base/events_mv"
    val ckpt = s"$base/ckpt"
    val iv = MaterializedView.IncrementalView(table, view, Keys, Sums)
  }

  /** The shipping sink's calls, one span each: dedup + persist,
    * `SnapshotTable.merge`, `MaterializedView.refreshIncremental`. */
  private def composedSink(flat: DataFrame, lake: Lake, l: Ledger,
      parent: () => Int): DataStreamWriter[Row] =
    flat.writeStream
      .option("checkpointLocation", lake.ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val p = parent()
        val fresh = batch.dropDuplicates("event_id").persist()
        try {
          val empty = l.span("streaming", "sink.dedup", p)(_ => fresh.isEmpty)
          if (!empty) {
            l.span("table", "SnapshotTable.merge", p)(_ =>
              SnapshotTable.merge(s, lake.table, fresh, "event_id"))
            l.span("mv", "MaterializedView.refreshIncremental", p)(_ =>
              MaterializedView.refreshIncremental(s, lake.iv))
          }
        } finally fresh.unpersist()
        ()
      }

  private final case class Round(wallS: Double, addBatchMs: Double,
      root: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val l = ctx.ledger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val lake = new Lake(s"${ctx.work}/ingest")
    val feed = new Feed(ctx.seed, BatchSize)
    val stream = MemoryStream[String]
    val sinkParent = new java.util.concurrent.atomic.AtomicInteger(-1)
    val offered = mutable.ArrayBuffer[IndexedSeq[String]]()

    def round(name: String, lines: IndexedSeq[String]): Round = {
      val t0 = System.nanoTime()
      var addBatch = 0.0
      var root = -1
      l.span("bench", name, -1) { rid =>
        root = rid
        stream.addData(lines)
        l.span("streaming", "EventPipeline.snapshotMvSink", rid) { sid =>
          sinkParent.set(sid)
          val flat = EventPipeline.pipeline(stream.toDF())
          val q: StreamingQuery =
            if (l.tracing) composedSink(flat, lake, l, () => sinkParent.get).start()
            else EventPipeline.snapshotMvSink(flat, lake.table, lake.view,
              Keys, Sums, lake.ckpt).start()
          try q.awaitTermination() finally q.stop()
          addBatch = q.recentProgress.map(p =>
            Option(p.durationMs.get("addBatch")).map(_.toDouble).getOrElse(0.0)).sum
        }
      }
      Round((System.nanoTime() - t0) / 1e9, addBatch, root)
    }

    def offer(): IndexedSeq[String] = {
      val b = feed.next()
      if (offered.size < GuardRounds) offered += b
      b
    }
    val warm = (0 until WarmupRounds).map(_ => round("ingest.warmup", offer()))
    val idsBefore = feed.validIds.size
    val rounds = mutable.ArrayBuffer[Round]()
    var failed = false
    val firstOp = System.currentTimeMillis()
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    while (!failed && (rounds.isEmpty || System.nanoTime() < deadline)) {
      val b = offer()
      try rounds += round("ingest.round", b)
      catch { case e: Throwable => ctx.opFailed("ingest round", e); failed = true }
    }
    val wall = (System.nanoTime() - start) / 1e9
    val committed = feed.validIds.size - idsBefore
    val nRounds = warm.size + rounds.size + (if (failed) 1 else 0)

    // answer checks, untimed
    val table = SnapshotTable.read(spark, lake.table)
    ctx.check("ingest: table rows == distinct valid keys offered", {
      val got = table.select("event_id").as[String].collect()
      got.length == feed.validIds.size && got.toSet == feed.validIds
    })
    ctx.check("ingest: view is not stale",
      !MaterializedView.isStale(spark, lake.iv))
    ctx.check("ingest: view == GROUP BY over the table",
      rows(viewCols(MaterializedView.read(spark, lake.iv))) ==
        rows(viewCols(table.groupBy(Keys.map(col): _*).agg(
          count(lit(1)).as("n"),
          sum(col("actor_id").cast("decimal(20,2)")).cast("decimal(20,2)")
            .as("sum_actor_id"),
          count(col("actor_id")).as("cnt_actor_id")))))
    ctx.check("ingest: one table and one view version per round",
      SnapshotTable.versions(spark, lake.table).size == nRounds &&
        SnapshotTable.versions(spark, lake.view).size == nRounds)

    val layer =
      if (l.tracing) traced(ctx, lake, offered.toSeq, warm ++ rounds, rounds.toSeq)
      else Map.empty[String, Double]
    Outcome(rounds.map(_.wallS).toSeq, wall, committed.toDouble, firstOp,
      nRounds, rounds.map(_.root).toSet, layer)
  }

  private def viewCols(df: DataFrame): DataFrame =
    df.select("event_type", "n", "sum_actor_id", "cnt_actor_id")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Per-layer metrics of the traced rounds, plus the drift guard. */
  private def traced(ctx: Ctx, lake: Lake, guardBatches: Seq[IndexedSeq[String]],
      all: Seq[Round], timed: Seq[Round]): Map[String, Double] = {
    val spark = ctx.spark
    val l = ctx.ledger
    // manifest diffs of the timed rounds' versions: files a round dropped
    // (rewritten by the COW merge) and bytes of the files it added. The
    // segment writers run inside mapPartitions, so Spark's task output
    // metrics never see these bytes; the manifests do.
    def manifests(root: String) = SnapshotTable.versions(spark, root)
      .map(v => SnapshotTable.manifest(spark, root, v))
    def diffs(ms: Seq[Seq[SnapshotTable.FileEntry]]) = ms.sliding(2).collect {
      case Seq(a, b) =>
        val before = a.map(_.path).toSet
        val after = b.map(_.path).toSet
        ((before -- after).size.toDouble,
          b.filterNot(e => before(e.path)).flatMap(_.bytes).sum)
    }.toSeq.takeRight(timed.size)
    val tableManifests = manifests(lake.table)
    val tableDiffs = diffs(tableManifests)
    val viewDiffs = diffs(manifests(lake.view))

    // drift guard: the first rounds again, through the shipping sink
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val guard = new Lake(s"${ctx.work}/ingest-guard")
    val gStream = MemoryStream[String]
    val guardRoots = guardBatches.map { b =>
      var root = -1
      l.span("bench", "ingest.guard", -1) { rid =>
        root = rid
        gStream.addData(b)
        val q = EventPipeline.snapshotMvSink(EventPipeline.pipeline(gStream.toDF()),
          guard.table, guard.view, Keys, Sums, guard.ckpt).start()
        try q.awaitTermination() finally q.stop()
      }
      root
    }
    l.drain()
    val tree = new Ledger.Tree(l.spans, l.jobs)
    val byId = l.spans.map(s => s.id -> s).toMap
    val k = guardBatches.size.toLong
    val composedJobs = all.take(guardBatches.size).map(r =>
      tree.jobsUnder(byId(r.root)).size)
    val shippingJobs = guardRoots.map(r => tree.jobsUnder(byId(r)).size)
    ctx.check(s"ingest drift guard: Spark jobs per round, composed " +
      s"$composedJobs vs shipping $shippingJobs", composedJobs == shippingJobs)
    ctx.check("ingest drift guard: table rows",
      rows(SnapshotTable.readVersion(spark, lake.table, k)) ==
        rows(SnapshotTable.read(spark, guard.table)))
    ctx.check("ingest drift guard: view rows",
      rows(SnapshotTable.readVersion(spark, lake.view, k)) ==
        rows(SnapshotTable.read(spark, guard.view)))
    ctx.check("ingest drift guard: version count",
      SnapshotTable.versions(spark, guard.table).size == k &&
        SnapshotTable.versions(spark, guard.view).size == k)

    Map(
      "streaming.add_batch_ms" -> LakeBench.mean(timed.map(_.addBatchMs)),
      "streaming.overhead_ms" ->
        LakeBench.mean(timed.map(r => r.wallS * 1000 - r.addBatchMs)),
      "table.files_rewritten_per_round" -> LakeBench.mean(tableDiffs.map(_._1)),
      "table.versions_end" -> tableManifests.size.toDouble,
      "table.manifest_entries_end" ->
        tableManifests.lastOption.map(_.size).getOrElse(0).toDouble,
      "table.bytes_written_per_event" ->
        tableDiffs.map(_._2).sum.toDouble / math.max(1, tableDiffs.size * BatchSize),
      "spark.output_bytes" -> (tableDiffs ++ viewDiffs).map(_._2).sum.toDouble /
        math.max(1, timed.size))
  }
}
