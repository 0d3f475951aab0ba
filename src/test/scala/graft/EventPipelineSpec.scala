package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventPipeline

class EventPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: String, typ: String = "PushEvent",
      created: String = "2024-01-01T10:00:00Z",
      actor: String = """{"id": 7, "login": "alice"}""",
      payload: String = """{"action": "created", "ref": "main"}""")
  : String =
    s"""{"id": "$id", "type": "$typ", "actor": $actor,
       |"repo": {"id": 1, "name": "r/x"}, "org": null,
       |"payload": $payload, "public": true,
       |"created_at": "$created",
       |"processed_at": "$created"}""".stripMargin.replace("\n", " ")

  test("parse drops malformed JSON, keeps valid (P1)") {
    val raw = Seq(ev("1"), "{not json", """{"no_id": true}""")
      .toDF("value")
    val parsed = EventPipeline.parse(raw)
    assert(parsed.count() == 1)
  }

  test("parseWithQuarantine splits good rows from malformed with reasons, " +
      "losing nothing") {
    val raw = Seq(ev("1"), "{not json", """{"no_id": true}""", ev("2"))
      .toDF("value")
    val (good, bad) = EventPipeline.parseWithQuarantine(raw)
    assert(good.count() == 2)
    val reasons = bad.select("reason").as[String].collect().sorted.toSeq
    assert(reasons == Seq("malformed_json", "missing_id"))
    // conservation: every input line lands on exactly one side
    assert(good.count() + bad.count() == raw.count())
    // quarantine keeps the raw line for replay/audit
    assert(bad.filter(col("raw_json").contains("not json")).count() == 1)
  }

  test("flatten produces the 26-column row with payload extracts (P2-P9)") {
    val flat = EventPipeline.pipeline(Seq(ev("1")).toDF("value"))
    val r = flat.collect()(0)
    assert(flat.columns.length == 26)
    assert(r.getAs[String]("event_id") == "1")
    assert(r.getAs[String]("event_category") == "code")
    assert(r.getAs[Int]("actor_id") == 7)
    assert(r.getAs[String]("action") == "created")
    assert(r.getAs[String]("ref") == "main")
    assert(r.getAs[Boolean]("has_actor"))
    assert(!r.getAs[Boolean]("has_org"))
    assert(r.getAs[String]("processing_date") == "2024-01-01")
    assert(r.getAs[Int]("processing_hour") == 10)
  }

  test("unknown event type categorizes as other (P6)") {
    val flat = EventPipeline.pipeline(
      Seq(ev("1", typ = "MysteryEvent")).toDF("value"))
    assert(flat.collect()(0).getAs[String]("event_category") == "other")
  }

  test("categorizeGithub implements the reference EVENT_TYPE_CATEGORIES " +
      "dict verbatim — all 15 entries, 6 categories (P6)") {
    // Independent transcription of schema.py:99-116; must not be derived
    // from EventPipeline.EventTypeCategories or the test proves nothing.
    val referenceDict = Map(
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
    assert(referenceDict.size == 15)
    assert(referenceDict.values.toSet ==
      Set("code", "issues", "social", "repository", "releases",
        "collaboration"))
    // The exported mapping matches entry-for-entry (no extras, no misses).
    assert(EventPipeline.EventTypeCategories.toMap == referenceDict)
    assert(EventPipeline.EventTypeCategories.size == 15)
    // And the Column function agrees for every entry, plus types the
    // reference does NOT map (incl. ones earlier rounds wrongly invented
    // categories for) fall through to "other".
    val probes = referenceDict.keys.toSeq ++
      Seq("TeamAddEvent", "StarEvent", "GollumEvent", "MysteryEvent")
    val got = probes.toDF("t")
      .select(col("t"), EventPipeline.categorizeGithub(col("t")).as("c"))
      .as[(String, String)].collect().toMap
    probes.foreach { t =>
      assert(got(t) == referenceDict.getOrElse(t, "other"),
        s"$t -> ${got(t)}")
    }
  }

  test("null actor yields null actor cols and false flag (P8)") {
    val flat = EventPipeline.pipeline(
      Seq(ev("1", actor = "null")).toDF("value"))
    val r = flat.collect()(0)
    assert(r.isNullAt(r.fieldIndex("actor_id")))
    assert(!r.getAs[Boolean]("has_actor"))
  }

  test("quality filter drops rows missing created_at (P7)") {
    val bad =
      """{"id": "9", "type": "PushEvent", "actor": null, "repo": null,
        |"org": null, "payload": null, "public": true,
        |"created_at": null, "processed_at": null}"""
        .stripMargin.replace("\n", " ")
    val flat = EventPipeline.pipeline(Seq(ev("1"), bad).toDF("value"))
    assert(flat.count() == 1)
  }

  test("streaming: memory source -> pipeline -> memory sink appends") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val flat = EventPipeline.pipeline(stream.toDF().withColumnRenamed(
      "value", "value"))
    val q = flat.writeStream.format("memory").queryName("sink_basic")
      .outputMode("append").start()
    try {
      stream.addData(ev("a"), ev("b"), "{broken")
      q.processAllAvailable()
      assert(spark.table("sink_basic").count() == 2)
      stream.addData(ev("c"))
      q.processAllAvailable()
      assert(spark.table("sink_basic").count() == 3)
    } finally q.stop()
  }

  test("streaming dedup drops re-sent event ids within watermark") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val flat = EventPipeline.deduped(
      EventPipeline.pipeline(stream.toDF()))
    val q = flat.writeStream.format("memory").queryName("sink_dedup")
      .outputMode("append").start()
    try {
      stream.addData(ev("a"), ev("a"), ev("b"))
      q.processAllAvailable()
      stream.addData(ev("a"), ev("c"))
      q.processAllAvailable()
      assert(spark.table("sink_dedup").count() == 3)
    } finally q.stop()
  }

  test("streaming windowed counts with watermark emit per-hour buckets") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val counts = EventPipeline.windowedCounts(
      EventPipeline.pipeline(stream.toDF()))
    val q = counts.writeStream.format("memory").queryName("sink_win")
      .outputMode("complete").start()
    try {
      stream.addData(
        ev("a", created = "2024-01-01T10:05:00Z"),
        ev("b", created = "2024-01-01T10:55:00Z"),
        ev("c", created = "2024-01-01T11:05:00Z"))
      q.processAllAvailable()
      val rows = spark.table("sink_win")
        .select("window_start", "n").collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 3)
      assert(rows.length == 2) // two distinct hours
    } finally q.stop()
  }

  test("update output mode re-emits only the windows a batch changed") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val counts = EventPipeline.windowedCounts(
      EventPipeline.pipeline(stream.toDF()))
    val q = counts.writeStream.format("memory").queryName("sink_upd")
      .outputMode("update").start()
    try {
      stream.addData(
        ev("u1", created = "2024-01-01T10:05:00Z"),
        ev("u2", created = "2024-01-01T11:05:00Z"))
      q.processAllAvailable()
      val afterFirst = spark.table("sink_upd").count()
      assert(afterFirst == 2) // both hour windows emitted once
      // second batch touches ONLY the 11:00 window
      stream.addData(ev("u3", created = "2024-01-01T11:20:00Z"))
      q.processAllAvailable()
      val rows = spark.table("sink_upd")
        .select("window_start", "n").collect()
      // update mode appends just the revised 11:00 row to the memory
      // sink: 3 rows total, not a re-emission of the untouched 10:00
      assert(rows.length == 3, s"got ${rows.length} rows")
      val eleven = rows.filter(_.getAs[java.sql.Timestamp]("window_start")
        .toString.contains("11:00"))
      assert(eleven.map(_.getAs[Long]("n")).max == 2,
        "revised 11:00 count missing")
    } finally q.stop()
  }

  test("session_window groups gap-separated activity (batch + stream)") {
    implicit val sc = spark.sqlContext
    def actorEv(id: String, actor: Int, created: String) =
      ev(id, created = created,
        actor = s"""{"id": $actor, "login": "u$actor"}""")
    val batchRows = Seq(
      actorEv("s1", 7, "2024-01-01T10:00:00Z"),
      actorEv("s2", 7, "2024-01-01T10:10:00Z"), // same session (gap 30m)
      actorEv("s3", 7, "2024-01-01T11:30:00Z"), // new session
      actorEv("s4", 8, "2024-01-01T10:05:00Z"))
    // batch semantics: session_window works on a static frame too
    val batch = EventPipeline.sessionCounts(
      EventPipeline.pipeline(batchRows.toDF("value")))
      .select("actor_id", "n_events").as[(Int, Long)].collect().sorted
    assert(batch.toSeq == Seq((7, 1L), (7, 2L), (8, 1L)))
    // streaming append: sessions finalize once the watermark passes
    val stream = MemoryStream[String]
    val q = EventPipeline.sessionCounts(
      EventPipeline.pipeline(stream.toDF()))
      .writeStream.format("memory").queryName("sink_sess")
      .outputMode("append").start()
    try {
      stream.addData(batchRows: _*)
      q.processAllAvailable()
      // advance the watermark far past all sessions, twice: the batch
      // that observes the sentinel updates the watermark at its end,
      // the NEXT batch emits the finalized sessions
      stream.addData(actorEv("w1", 99, "2024-01-02T00:00:00Z"))
      q.processAllAvailable()
      stream.addData(actorEv("w2", 99, "2024-01-03T00:00:00Z"))
      q.processAllAvailable()
      val emitted = spark.table("sink_sess")
        .filter(col("actor_id").isin(7, 8))
        .select("actor_id", "n_events").as[(Int, Long)].collect().sorted
      assert(emitted.toSeq == Seq((7, 1L), (7, 2L), (8, 1L)))
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dim, left-preserves " +
      "unmapped categories") {
    implicit val sc = spark.sqlContext
    val dim = Seq(
      ("code", "eng-platform"),
      ("issues", "eng-support")).toDF("event_category", "owner")
    val stream = MemoryStream[String]
    val enriched = EventPipeline.enriched(
      EventPipeline.pipeline(stream.toDF()), dim)
    val q = enriched.writeStream.format("memory").queryName("sink_enrich")
      .outputMode("append").start()
    try {
      stream.addData(
        ev("e1"), // PushEvent -> code -> eng-platform
        ev("e2", typ = "IssuesEvent"), // issues -> eng-support
        ev("e3", typ = "MysteryEvent")) // other -> no dim row
      q.processAllAvailable()
      val rows = spark.table("sink_enrich")
        .select("event_id", "event_category", "owner").collect()
      assert(rows.length == 3, "left join must preserve every event")
      val byId = rows.map(r => r.getString(0) ->
        Option(r.getAs[String]("owner"))).toMap
      assert(byId("e1").contains("eng-platform"))
      assert(byId("e2").contains("eng-support"))
      assert(byId("e3").isEmpty, "unmapped category keeps a null owner")
      // the static side must broadcast — the stream side never shuffles
      val plan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected broadcast stream-static join:\n${plan.take(2000)}")
    } finally q.stop()
  }

  test("stream-stream interval join matches within horizon, drops outside") {
    implicit val sc = spark.sqlContext
    def actorEv(id: String, actor: Int, typ: String, created: String) =
      ev(id, typ = typ, created = created,
        actor = s"""{"id": $actor, "login": "u$actor"}""")
    val stream = MemoryStream[String]
    val flat = EventPipeline.pipeline(stream.toDF())
    val joined = EventPipeline.streamIntervalJoin(
      causes = flat.filter(col("event_type") === "PushEvent"),
      effects = flat.filter(col("event_type") === "IssuesEvent"))
    val q = joined.writeStream.format("memory").queryName("sink_ssj")
      .outputMode("append").start()
    try {
      stream.addData(
        actorEv("p1", 7, "PushEvent", "2024-01-01T10:00:00Z"),
        actorEv("p2", 7, "PushEvent", "2024-01-01T10:20:00Z"),
        actorEv("i1", 7, "IssuesEvent", "2024-01-01T10:30:00Z"), // both in 1h
        actorEv("i2", 7, "IssuesEvent", "2024-01-01T12:00:00Z"), // none in 1h
        actorEv("p3", 8, "PushEvent", "2024-01-01T10:05:00Z"),
        actorEv("i3", 9, "IssuesEvent", "2024-01-01T10:10:00Z")) // no cause
      q.processAllAvailable()
      val rows = spark.table("sink_ssj")
        .select("effect_id", "cause_id").as[(String, String)]
        .collect().toSet
      assert(rows == Set(("i1", "p1"), ("i1", "p2")),
        s"interval join must pair i1 with p1+p2 only, got $rows")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: matches emit eagerly, " +
      "unmatched effects emit null cause only after the watermark " +
      "proves no cause can come") {
    implicit val sc = spark.sqlContext
    def actorEv(id: String, actor: Int, typ: String, created: String) =
      ev(id, typ = typ, created = created,
        actor = s"""{"id": $actor, "login": "u$actor"}""")
    val stream = MemoryStream[String]
    val flat = EventPipeline.pipeline(stream.toDF())
    val joined = EventPipeline.streamIntervalJoinLeftOuter(
      causes = flat.filter(col("event_type") === "PushEvent"),
      effects = flat.filter(col("event_type") === "IssuesEvent"))
    val q = joined.writeStream.format("memory").queryName("sink_ssjo")
      .outputMode("append").start()
    try {
      stream.addData(
        actorEv("p1", 7, "PushEvent", "2024-01-01T10:00:00Z"),
        actorEv("i1", 7, "IssuesEvent", "2024-01-01T10:30:00Z"), // matched
        actorEv("i9", 9, "IssuesEvent", "2024-01-01T10:10:00Z")) // organic
      q.processAllAvailable()
      val early = spark.table("sink_ssjo")
        .select("effect_id").as[String].collect().toSet
      assert(early.contains("i1"), "matched row must emit eagerly")
      assert(!early.contains("i9"),
        "unmatched row must NOT emit before the watermark closes its " +
          "horizon — a cause could still arrive")
      // advance event time far enough that watermark (10 min) passes
      // i9's join horizon (1 h): i9 needs watermark > 11:10
      stream.addData(
        actorEv("p_adv", 50, "PushEvent", "2024-01-01T13:00:00Z"),
        actorEv("i_adv", 51, "IssuesEvent", "2024-01-01T13:00:00Z"))
      q.processAllAvailable()
      // one more batch so the new watermark takes effect on state
      stream.addData(
        actorEv("p_adv2", 52, "PushEvent", "2024-01-01T13:30:00Z"))
      q.processAllAvailable()
      val late = spark.table("sink_ssjo")
        .select("effect_id", "cause_id").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(late("i1").contains("p1"))
      assert(late.contains("i9") && late("i9").isEmpty,
        s"organic effect must surface with null cause, got $late")
    } finally q.stop()
  }

  test("lakehouse loop: stream -> snapshot-table MERGE -> incremental " +
      "MV refresh, fresh after every batch, replay-safe") {
    implicit val sc = spark.sqlContext
    import graft.sources.{MaterializedView, SnapshotTable}
    val base = java.nio.file.Files
      .createTempDirectory("graft-loop").toString
    val (tableRoot, viewRoot) = (s"$base/events_t", s"$base/events_mv")
    val stream = MemoryStream[String]
    // AvailableNow drains what exists at start then stops — so each
    // round is its own start/drain/stop, and round 2 resumes from the
    // SAME checkpoint (the restart path is part of what's under test)
    def drainRound(): Unit = {
      val q = EventPipeline.snapshotMvSink(
        EventPipeline.pipeline(stream.toDF()),
        tableRoot, viewRoot, keys = Seq("event_type"),
        sumCols = Seq("actor_id"), checkpoint = s"$base/ckpt").start()
      try { q.processAllAvailable() } finally q.stop()
    }
    stream.addData(ev("a1"), ev("a2", typ = "IssuesEvent"),
      ev("a2", typ = "IssuesEvent")) // in-batch duplicate
    drainRound()
    stream.addData(ev("a3"), ev("a2", typ = "IssuesEvent")) // replay
    drainRound()
    // table: replay + in-batch dup collapsed by the MERGE key
    val table = SnapshotTable.read(spark, tableRoot)
    assert(table.count() == 3, "merge must dedup replays")
    // view: fresh, and equal to a full recompute over the table
    val iv = MaterializedView.IncrementalView(tableRoot, viewRoot,
      Seq("event_type"), Seq("actor_id"))
    assert(!MaterializedView.isStale(spark, iv))
    val got = MaterializedView.read(spark, iv)
      .select("event_type", "n").as[(String, Long)].collect().toMap
    assert(got == Map("PushEvent" -> 2L, "IssuesEvent" -> 1L), s"$got")
    // both artifacts carry history: one table+view version per batch
    assert(SnapshotTable.versions(spark, tableRoot).size == 2)
    assert(SnapshotTable.versions(spark, viewRoot).size == 2)
  }

  test("lakehouse loop IO stays FLAT as the table grows: across 5 " +
      "batches no merge rewrites a prior file (fresh keys append) and " +
      "every MV refresh reads a batch-sized delta, not the table") {
    implicit val sc = spark.sqlContext
    import graft.sources.{MaterializedView, SnapshotTable}
    val base = java.nio.file.Files
      .createTempDirectory("graft-flat").toString
    val (tableRoot, viewRoot) = (s"$base/events_t", s"$base/events_mv")
    val stream = MemoryStream[String]
    def drainRound(): Unit = {
      val q = EventPipeline.snapshotMvSink(
        EventPipeline.pipeline(stream.toDF()),
        tableRoot, viewRoot, keys = Seq("event_type"),
        sumCols = Seq("actor_id"), checkpoint = s"$base/ckpt").start()
      try { q.processAllAvailable() } finally q.stop()
    }
    val observed =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        qe.observedMetrics.get("graft_mv_delta")
          .foreach(r => observed.add(r.getAs[Long]("delta_rows")))
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val batchSize = 4
      (0 until 5).foreach { b =>
        stream.addData((0 until batchSize).map(i =>
          ev(f"m$b%02d$i%02d")): _*)
        drainRound()
      }
      val vs = SnapshotTable.versions(spark, tableRoot)
      assert(vs.size == 5)
      // a fresh-key batch must APPEND: manifest stats prune the merge
      // to zero rewritten files, so every prior file carries over — the
      // write amplification that made the old table-COW loop unusable
      // is structurally gone
      vs.sliding(2).foreach { case Seq(a, b2) =>
        val pa = SnapshotTable.manifest(spark, tableRoot, a)
          .map(_.path).toSet
        val pb = SnapshotTable.manifest(spark, tableRoot, b2)
          .map(_.path).toSet
        assert((pa -- pb).isEmpty,
          s"batch v$b2 rewrote ${(pa -- pb).size} prior files")
        assert(pb.size > pa.size, s"batch v$b2 added no files")
      }
      // the MV consumed batch-sized deltas (first refresh is full and
      // unobserved; the four incremental ones must see 4 rows each)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (observed.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val sizes = observed.asScala.toSeq
      assert(sizes.size == 4 && sizes.forall(_ == batchSize.toLong),
        s"refresh must read batch-sized deltas as the table grows, " +
          s"got $sizes (table reached ${5 * batchSize} rows)")
      // and the loop still answers correctly
      val got = MaterializedView.read(spark,
        MaterializedView.IncrementalView(tableRoot, viewRoot,
          Seq("event_type"), Seq("actor_id")))
        .select("event_type", "n").as[(String, Long)].collect().toMap
      assert(got.values.sum == 5L * batchSize)
    } finally spark.listenerManager.unregister(listener)
  }

  test("lakehouse loop job budget: a warmed-up snapshotMvSink round " +
      "with replayed keys launches at most 12 Spark jobs") {
    import graft.sources.connector.SessionHadoopConf
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft-jobs").toString
    val stream = MemoryStream[String]
    def drainRound(): Unit = {
      val q = EventPipeline.snapshotMvSink(
        EventPipeline.pipeline(stream.toDF()),
        s"$base/events_t", s"$base/events_mv", keys = Seq("event_type"),
        sumCols = Seq("actor_id"), checkpoint = s"$base/ckpt").start()
      try { q.processAllAvailable() } finally q.stop()
    }
    // every batch after the first re-delivers ids of the one before, so
    // each merge rewrites the files holding them (the copy-on-write
    // path) and each view refresh sees both added and removed files
    var next = 0
    def offer(): Unit = {
      val replays = (math.max(0, next - 10) until next).map(i => f"j$i%05d")
      val fresh = (next until next + 40).map(i => f"j$i%05d")
      next += 40
      stream.addData((fresh ++ replays).zipWithIndex.map { case (id, i) =>
        ev(id, typ = if (i % 3 == 0) "IssuesEvent" else "PushEvent",
          actor = s"""{"id": ${i % 7}, "login": "u$i"}""")
      }: _*)
      drainRound()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marks = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("job-budget-mark")) match {
          case Some(m) => marks.put(m)
          case None => jobs.incrementAndGet()
        }
    }
    // listener delivery is asynchronous and in order: a marker job
    // launched after the round is seen only once every job of the
    // round has been counted
    def barrier(tag: String): Unit = {
      spark.sparkContext.setJobDescription(s"job-budget-mark-$tag")
      try spark.range(1).collect()
      finally spark.sparkContext.setJobDescription(null)
      var seen = false
      while (!seen) {
        val m = marks.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(m != null, s"marker job $tag never reached the listener")
        seen = m == s"job-budget-mark-$tag"
      }
    }
    // Janino compiles, JVM-wide (driver and local executors)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    (0 until 3).foreach(_ => offer()) // bootstrap + JIT warm-up
    spark.sparkContext.addSparkListener(listener)
    try {
      (0 until 2).foreach { r =>
        barrier(s"start$r")
        jobs.set(0)
        val compiled0 = compiles.getCount
        val minted0 = SessionHadoopConf.mints
        offer()
        val compiled = compiles.getCount - compiled0
        val minted = SessionHadoopConf.mints - minted0
        barrier(s"end$r")
        // each round starts a query on a fresh session clone; run on the
        // clone, the sink's jobs missed the codegen cache (keyed on the
        // per-session task classloader) and recompiled ~38 classes
        assert(compiled == 0,
          s"round $r compiled $compiled generated classes, expected 0")
        // the session's one Hadoop-conf broadcast serves every scan and
        // staging job; minting one per job was 11 per round
        assert(minted == 0,
          s"round $r minted $minted conf broadcasts, expected 0")
        // 3 for the sink's dedup + emptiness check, 4 for the merge
        // (key collection, range sample, shuffle, write) and 5 for the
        // view refresh. With the broadcast-join key classification and
        // the exceptAll view delta a round launched 17
        assert(jobs.get() <= 12,
          s"round $r launched ${jobs.get()} Spark jobs, budget 12")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val table = graft.sources.SnapshotTable.read(spark, s"$base/events_t")
    assert(table.count() == next.toLong)
  }

  test("merge-on-read lakehouse sink: updating batches never rewrite " +
      "a prior file, last write wins, compaction clears tombstones") {
    implicit val sc = spark.sqlContext
    import graft.sources.SnapshotTable
    val base = java.nio.file.Files
      .createTempDirectory("graft-mor-sink").toString
    val tableRoot = s"$base/events_t"
    val stream = MemoryStream[String]
    def drainRound(compactEvery: Int): Unit = {
      val q = EventPipeline.snapshotMorSink(
        EventPipeline.pipeline(stream.toDF()),
        tableRoot, checkpoint = s"$base/ckpt",
        compactEvery = compactEvery).start()
      try { q.processAllAvailable() } finally q.stop()
    }
    // batches 0-2: fresh keys; batches 3-4 REPLAY keys m000*/m010*
    // with a different event type — the case where the COW sink must
    // rewrite every touched file and MOR must not touch any
    val mk = (b: Int, i: Int) => f"m$b%02d$i%02d"
    (0 until 3).foreach { b =>
      stream.addData((0 until 4).map(i => ev(mk(b, i))): _*)
      drainRound(compactEvery = 99)
    }
    (0 until 2).foreach { b =>
      stream.addData((0 until 4).map(i =>
        ev(mk(b, i), typ = "WatchEvent")): _*)
      drainRound(compactEvery = 99)
    }
    val vs = SnapshotTable.versions(spark, tableRoot)
    assert(vs.size == 5)
    vs.sliding(2).foreach {
      case Seq(a, b2) =>
        val pa = SnapshotTable.manifest(spark, tableRoot, a)
          .map(_.path).toSet
        val pb = SnapshotTable.manifest(spark, tableRoot, b2)
          .map(_.path).toSet
        assert((pa -- pb).isEmpty,
          s"v$b2 dropped/rewrote prior files — MOR must only add")
      case _ => ()
    }
    // update batches carried a tombstone; fresh-key batches did not
    assert(SnapshotTable.manifest(spark, tableRoot, 3L)
      .count(_.kind == "t") == 0, "fresh-key batch must skip tombstone")
    assert(SnapshotTable.manifest(spark, tableRoot, 4L)
      .count(_.kind == "t") == 1, "updating batch must add 1 tombstone")
    // last write wins: replayed keys show the updated type
    val byId = SnapshotTable.read(spark, tableRoot)
      .select("event_id", "event_type").as[(String, String)]
      .collect().toMap
    assert(byId.size == 12, s"12 distinct keys expected, got ${byId.size}")
    assert(byId(mk(0, 0)) == "WatchEvent" && byId(mk(1, 3)) == "WatchEvent")
    assert(byId(mk(2, 0)) == "PushEvent")
    // one more updating batch with compactEvery=6 → the commit lands
    // as v6 and triggers compaction (v7): tombstones cleared, content
    // identical
    stream.addData((0 until 4).map(i =>
      ev(mk(2, i), typ = "WatchEvent")): _*)
    drainRound(compactEvery = 6)
    val cur = SnapshotTable.currentVersion(spark, tableRoot)
    assert(cur == 7L, s"expected compaction commit v7, at $cur")
    assert(SnapshotTable.manifest(spark, tableRoot, cur)
      .count(_.kind == "t") == 0, "compaction must clear tombstones")
    val after = SnapshotTable.read(spark, tableRoot)
      .select("event_id", "event_type").as[(String, String)]
      .collect().toMap
    assert(after.size == 12 && after.values.forall(_ == "WatchEvent"))
    // the sink surfaced post-commit stats staleness as a metric: the
    // merge sink sketches its cluster key but analyze covers MORE
    // columns, so after compaction the recorded fraction is a real
    // number in [0,1] — and a CALL analyze drives it to 0 on the
    // next batch (the drift → maintain → clean cycle ingest watches)
    val frac0 = EventPipeline.lastStatsStaleness(tableRoot)
    assert(frac0.exists(f => f >= 0.0 && f <= 1.0),
      s"MOR sink must record staleness, got $frac0")
    SnapshotTable.analyze(spark, tableRoot)
    stream.addData(ev(mk(9, 0)))
    drainRound(compactEvery = 99)
    val frac1 = EventPipeline.lastStatsStaleness(tableRoot)
    // only the fresh file's share may be stale after the analyze —
    // strictly less drift than before the maintenance ran
    assert(frac1.exists(f => f < frac0.get),
      s"post-analyze staleness must drop: $frac0 -> $frac1")
  }

  test("sessionizer runs on the RocksDB state store provider") {
    // the 100 TB state path: state lives off-heap/on-disk in RocksDB
    // instead of the in-memory HashMap provider — same results
    implicit val sc = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def actorEv(id: String, actor: Int, created: String) =
        ev(id, created = created,
          actor = s"""{"id": $actor, "login": "u$actor"}""")
      val stream = MemoryStream[String]
      val q = EventPipeline.sessionCounts(
        EventPipeline.pipeline(stream.toDF()))
        .writeStream.format("memory").queryName("sink_rocks")
        .outputMode("append").start()
      try {
        stream.addData(
          actorEv("r1", 7, "2024-01-01T10:00:00Z"),
          actorEv("r2", 7, "2024-01-01T10:10:00Z"),
          actorEv("r3", 8, "2024-01-01T10:05:00Z"))
        q.processAllAvailable()
        stream.addData(actorEv("w1", 99, "2024-01-02T00:00:00Z"))
        q.processAllAvailable()
        stream.addData(actorEv("w2", 99, "2024-01-03T00:00:00Z"))
        q.processAllAvailable()
        val emitted = spark.table("sink_rocks")
          .filter(col("actor_id").isin(7, 8))
          .select("actor_id", "n_events").as[(Int, Long)].collect().sorted
        assert(emitted.toSeq == Seq((7, 2L), (8, 1L)))
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("progress monitor captures batch counts + input rows (S-mon)") {
    implicit val sc = spark.sqlContext
    val mon = graft.streaming.Monitoring.attach(spark)
    val stream = MemoryStream[String]
    val q = EventPipeline.pipeline(stream.toDF())
      .writeStream.format("memory").queryName("sink_mon")
      .outputMode("append").start()
    try {
      stream.addData(ev("m1"), ev("m2"))
      q.processAllAvailable()
      stream.addData(ev("m3"))
      q.processAllAvailable()
      // listener delivery is async on the bus — wait for it to catch up
      val deadline = System.currentTimeMillis() + 30000
      def st = mon.snapshot.get("sink_mon")
      while (System.currentTimeMillis() < deadline &&
          !st.exists(_.inputRows >= 3)) Thread.sleep(100)
      val s = st.get
      assert(s.inputRows == 3)
      assert(s.batches >= 2)
      assert(s.lastRowsPerSec >= 0.0)
      assert(!s.terminated && s.error.isEmpty)
    } finally {
      q.stop()
      graft.streaming.Monitoring.detach(spark, mon)
    }
  }

  test("observe() metrics ride the plan and land on the listener bus") {
    implicit val sc = spark.sqlContext
    val mon = graft.streaming.Monitoring.attach(spark)
    val stream = MemoryStream[String]
    val q = EventPipeline.withQualityMetrics(
      EventPipeline.pipeline(stream.toDF()))
      .writeStream.format("memory").queryName("sink_obs")
      .outputMode("append").start()
    try {
      stream.addData(ev("o1"), ev("o2"), ev("o3", actor = "null"))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      def obs = mon.snapshot.get("sink_obs")
        .flatMap(_.lastObserved.get("graft_quality"))
      while (System.currentTimeMillis() < deadline && obs.isEmpty)
        Thread.sleep(100)
      val m = obs.get
      assert(m.getAs[Long]("rows") == 3)
      assert(m.getAs[Long]("null_actor") == 1)
      assert(m.getAs[Long]("null_org") == 3) // fixture events carry org: null
    } finally {
      q.stop()
      graft.streaming.Monitoring.detach(spark, mon)
    }
  }

  test("observe() metrics survive the sink's session handover: " +
      "snapshotMvSink reports graft_quality once per valid row") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft-mvobs").toString
    val mon = graft.streaming.Monitoring.attach(spark)
    val stream = MemoryStream[String]
    // the dedup persist, the emptiness check, the merge and the view
    // refresh all read the batch: the micro-batch plan (and with it
    // the observed counters) must still run exactly once
    stream.addData(ev("q1"), ev("q2", typ = "IssuesEvent"),
      ev("q3", actor = "null"), ev("q3", actor = "null"), "{not json")
    val q = EventPipeline.snapshotMvSink(
      EventPipeline.withQualityMetrics(
        EventPipeline.pipeline(stream.toDF())),
      s"$base/events_t", s"$base/events_mv", keys = Seq("event_type"),
      sumCols = Seq("actor_id"), checkpoint = s"$base/ckpt")
      .queryName("sink_mv_obs").start()
    try {
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      def obs = mon.snapshot.get("sink_mv_obs")
        .flatMap(_.lastObserved.get("graft_quality"))
      while (System.currentTimeMillis() < deadline && obs.isEmpty)
        Thread.sleep(100)
      val m = obs.getOrElse(fail("graft_quality never reached Monitoring"))
      // 5 lines offered: the malformed one is dropped, the in-batch
      // duplicate is counted (the sink dedups after the observation)
      assert(m.getAs[Long]("rows") == 4)
      assert(m.getAs[Long]("null_actor") == 2)
    } finally {
      q.stop()
      graft.streaming.Monitoring.detach(spark, mon)
    }
    assert(graft.sources.SnapshotTable.read(spark, s"$base/events_t")
      .count() == 3)
  }

  test("checkpoint recovery: restart resumes offsets, no reprocessing") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val (inDir, outDir, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    new java.io.File(inDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/batch0.txt"),
      Seq(ev("c1"), ev("c2")).mkString("\n"))
    def start() = EventPipeline.parquetSink(
      EventPipeline.pipeline(spark.readStream.format("text").load(inDir)),
      outDir, ckpt).start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(outDir).count() == 2)
    // new data arrives while the query is down
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/batch1.txt"),
      Seq(ev("c3")).mkString("\n"))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val out = spark.read.parquet(outDir)
    // c1/c2 NOT reprocessed (append sink would have duplicated them)
    assert(out.count() == 3)
    assert(out.select("event_id").distinct().count() == 3)
  }

  test("AvailableNow backfill drains exactly the pending input, " +
      "self-terminates, and the checkpoint stays resumable") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-catchup")
    val (inDir, outDir, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    new java.io.File(inDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/pending0.txt"),
      Seq(ev("a1"), ev("a2")).mkString("\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/pending1.txt"),
      Seq(ev("a3")).mkString("\n"))
    def start() = EventPipeline.parquetSink(
      EventPipeline.pipeline(spark.readStream.format("text").load(inDir)),
      outDir, ckpt, availableNow = true).start()
    val q1 = start()
    // AvailableNow stops ITSELF once pending input is drained — no
    // stop() call, the await must return true within the timeout
    assert(q1.awaitTermination(60000), "backfill did not self-terminate")
    assert(spark.read.parquet(outDir).count() == 3)
    // later arrivals are NOT picked up by the finished run...
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/late.txt"),
      Seq(ev("a4")).mkString("\n"))
    assert(spark.read.parquet(outDir).count() == 3)
    // ...but the next catch-up run resumes the same checkpoint and
    // drains exactly the delta (no reprocessing of a1-a3)
    val q2 = start()
    assert(q2.awaitTermination(60000), "second backfill did not stop")
    val out = spark.read.parquet(outDir)
    assert(out.count() == 4)
    assert(out.select("event_id").distinct().count() == 4)
  }

  test("foreachBatch upsert sink: replays and in-batch dups never " +
      "duplicate a key") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-upsert")
    val (inDir, outDir, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    new java.io.File(inDir).mkdirs()
    // u1 arrives twice IN the same batch
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/b0.txt"),
      Seq(ev("u1"), ev("u1"), ev("u2")).mkString("\n"))
    def run() = {
      val q = EventPipeline.upsertSink(
        EventPipeline.pipeline(
          spark.readStream.format("text").load(inDir)),
        outDir, ckpt).start()
      assert(q.awaitTermination(60000), "upsert run did not stop")
    }
    run()
    val first = spark.read.parquet(outDir)
    assert(first.count() == 2)
    assert(first.select("event_id").distinct().count() == 2)
    // u2 is RE-SENT in a later batch (at-least-once replay) + a new u3
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/b1.txt"),
      Seq(ev("u2"), ev("u3")).mkString("\n"))
    run()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 3, "replayed key was appended again")
    assert(out.select("event_id").as[String].collect().sorted.toSeq ==
      Seq("u1", "u2", "u3"))
  }

  test("file stream end-to-end: parquet sink with partition pruning cols") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream")
    val (inDir, outDir, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    new java.io.File(inDir).mkdirs()
    // seed a jsonl file, then start a file-source stream over it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/batch0.txt"),
      Seq(ev("f1"), ev("f2", created = "2024-01-01T11:30:00Z"))
        .mkString("\n"))
    val raw = spark.readStream.format("text").load(inDir)
    val q = EventPipeline.parquetSink(
      EventPipeline.pipeline(raw), outDir, ckpt).start()
    try {
      q.processAllAvailable()
      val out = spark.read.parquet(outDir)
      assert(out.count() == 2)
      assert(out.select("processing_hour").distinct().count() == 2)
    } finally q.stop()
  }

  test("bucketed streaming sink: micro-batches land inside the " +
      "declared bucket layout (SPJ over the streamed table stays " +
      "exchange-free, no compaction), and a replayed batch id is " +
      "skipped — exactly-once appends via the manifest txn marker") {
    implicit val sc = spark.sqlContext
    import graft.sources.SnapshotTable
    val base = java.nio.file.Files
      .createTempDirectory("graft-bsink").toString
    val wh = s"$base/wh"
    spark.conf.set("spark.sql.catalog.graftbs",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftbs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftbs.db")
    val tableRoot = s"$wh/db/ev"
    val dimRoot = s"$wh/db/actors"
    def mkEv(b: Int, i: Int): String = ev(f"s$b%02d$i%02d",
      actor = s"""{"id": ${i % 7}, "login": "u${i % 7}"}""")
    // the seed commit declares the bucket layout the sink appends into
    val seed = EventPipeline.pipeline(
      Seq(mkEv(9, 90), mkEv(9, 91)).toDF("value"))
    SnapshotTable.commitBucketed(spark, tableRoot, seed, "actor_id", 4)
    // dim actor_id matches the pipeline's INT type exactly — a wider
    // key would put a cast on the join key and demote SPJ to a shuffle
    SnapshotTable.commitBucketed(spark, dimRoot,
      (0 until 7).map(i => (i, s"u$i")).toDF("actor_id", "dname"),
      "actor_id", 4)

    val stream = MemoryStream[String]
    def drain(ckpt: String): Unit = {
      val q = EventPipeline.snapshotBucketedSink(
        EventPipeline.pipeline(stream.toDF()), tableRoot,
        checkpoint = ckpt, appId = "bsink-test").start()
      try q.processAllAvailable() finally q.stop()
    }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    (0 until 3).foreach { b =>
      stream.addData((0 until 8).map(i => mkEv(b, i)): _*)
      val compiled0 = compiles.getCount
      drain(s"$base/ckpt")
      // the second run reuses the first run's generated classes: the
      // sink's jobs run on the owner session, not the query's clone
      if (b == 1) assert(compiles.getCount == compiled0,
        s"second run compiled ${compiles.getCount - compiled0} " +
          "generated classes, expected 0")
    }
    assert(SnapshotTable.versions(spark, tableRoot).size == 4)
    assert(SnapshotTable.read(spark, tableRoot).count() == 26)
    assert(SnapshotTable.lastCommittedTxn(spark, tableRoot, "bsink-test")
      .contains(2L))
    // every data file of the ingest history carries a bucket id
    val man = SnapshotTable.manifest(spark, tableRoot,
      SnapshotTable.currentVersion(spark, tableRoot))
    man.filter(_.kind == "d").foreach(e =>
      assert(e.statsFor("__bucket").isDefined,
        s"streamed file ${e.path} landed outside the bucket layout"))
    // SPJ against the co-bucketed dim: zero Exchange over the
    // streamed table — the property a plain append sink would lose
    val prevB = spark.conf
      .getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevT = spark.conf
      .getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("graftbs.db.ev")
        .join(spark.table("graftbs.db.actors"), "actor_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"streamed-table SPJ shuffled:\n${plan.take(2000)}")
      assert(j.count() == 26)
    } finally {
      prevB.fold(spark.conf.unset(
        "spark.sql.sources.v2.bucketing.enabled"))(v =>
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
      prevT.fold(spark.conf.unset(
        "spark.sql.autoBroadcastJoinThreshold"))(v =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
    }
    // replay: a FRESH checkpoint re-reads the whole stream as batch 0
    // — the committed marker (2 >= 0) recognizes it and skips, so the
    // table neither duplicates rows nor mints a version
    val vBefore = SnapshotTable.currentVersion(spark, tableRoot)
    drain(s"$base/ckpt_replay")
    assert(SnapshotTable.currentVersion(spark, tableRoot) == vBefore,
      "replayed batch minted a version")
    assert(SnapshotTable.read(spark, tableRoot).count() == 26,
      "replayed batch duplicated rows")
    // and NEW data through the original checkpoint still lands
    stream.addData(mkEv(5, 0))
    drain(s"$base/ckpt")
    assert(SnapshotTable.read(spark, tableRoot).count() == 27)
    assert(SnapshotTable.lastCommittedTxn(spark, tableRoot, "bsink-test")
      .contains(3L))
    // the bucketed sink records post-commit stats staleness too —
    // same metric contract as the MOR sink
    assert(EventPipeline.lastStatsStaleness(tableRoot)
      .exists(f => f >= 0.0 && f <= 1.0),
      "bucketed sink must record staleness")
  }

  test("identity-partitioned streaming sink: micro-batches land " +
      "VALUE-PURE inside the declared layout (manifest GROUP BY and " +
      "consumed partition filters survive the whole ingest history), " +
      "and a replayed batch id is skipped — exactly-once appends") {
    implicit val sc = spark.sqlContext
    import graft.sources.SnapshotTable
    val base = java.nio.file.Files
      .createTempDirectory("graft-psink").toString
    val tableRoot = s"$base/ev"
    def mkEv(b: Int, i: Int): String = ev(f"p$b%02d$i%02d",
      typ = Seq("PushEvent", "ForkEvent", "IssuesEvent")(i % 3))
    // the seed commit declares the identity layout the sink appends into
    val seed = EventPipeline.pipeline(
      Seq(mkEv(9, 90), mkEv(9, 91)).toDF("value"))
    SnapshotTable.commitPartitioned(spark, tableRoot, seed, "event_type")
    val stream = MemoryStream[String]
    def drain(ckpt: String): Unit = {
      val q = EventPipeline.snapshotPartitionedSink(
        EventPipeline.pipeline(stream.toDF()), tableRoot,
        checkpoint = ckpt, appId = "psink-test").start()
      try q.processAllAvailable() finally q.stop()
    }
    (0 until 3).foreach { b =>
      stream.addData((0 until 9).map(i => mkEv(b, i)): _*)
      drain(s"$base/ckpt")
    }
    assert(SnapshotTable.read(spark, tableRoot).count() == 29)
    // every data file of the ingest history is value-pure
    val man = SnapshotTable.manifest(spark, tableRoot,
      SnapshotTable.currentVersion(spark, tableRoot))
    man.filter(_.kind == "d").foreach(e =>
      assert(e.statsKey.contains("event_type") && e.lo == e.hi &&
        e.statsNulls.contains(0L),
        s"streamed file ${e.path} broke value purity"))
    // the dashboard query over the streamed table: manifest-only
    val g = spark.read.format("graft-snapshot")
      .option("path", tableRoot).load()
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
    assert(g.queryExecution.executedPlan.toString.contains("files=0/"),
      "streamed table lost the manifest GROUP BY")
    assert(g.as[(String, Long)].collect().toSeq ==
      Seq(("ForkEvent", 10L), ("IssuesEvent", 9L), ("PushEvent", 10L)))
    // replay from a fresh checkpoint: recognized, skipped, no version
    val vBefore = SnapshotTable.currentVersion(spark, tableRoot)
    drain(s"$base/ckpt_replay")
    assert(SnapshotTable.currentVersion(spark, tableRoot) == vBefore)
    assert(SnapshotTable.read(spark, tableRoot).count() == 29)
    // new data through the original checkpoint still lands, pure
    stream.addData(mkEv(5, 0))
    drain(s"$base/ckpt")
    assert(SnapshotTable.read(spark, tableRoot).count() == 30)
    assert(SnapshotTable.lastCommittedTxn(spark, tableRoot, "psink-test")
      .contains(3L))
  }

  test("ingest→analytics composition: streamed sink output answers the " +
      "batch events queries identically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compose")
    val (inDir, outDir, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    // producer stand-in: the fixture events table serialized to JSON
    // lines (the reference's Kafka topic payloads); timestamps travel
    // as strings and round-trip through to_timestamp at µs precision —
    // the same precision Tables.load reduces the fixture's nanos to
    graft.Tables.load(spark, sfDir, "events")
      .selectExpr("to_json(struct(event_id, CAST(ts AS STRING) AS ts, " +
        "user_id, event_type, value, props)) AS value")
      .write.mode("overwrite").text(inDir)
    // ingest process: file stream -> parse -> flatten -> partitioned sink
    val raw = spark.readStream.format("text").load(inDir)
    val q = EventPipeline.parquetSink(
      EventPipeline.fixtureEventsPipeline(raw),
      s"$outDir/events.parquet", ckpt, availableNow = true).start()
    assert(q.awaitTermination(120000), "ingest run did not self-stop")
    // analytics process: the UNCHANGED batch operators pointed at the
    // STREAMED output — the two-process composition as one tested flow
    import graft.operators.EventAnalytics
    Seq("events_by_type", "events_hourly", "events_top_users").foreach {
      name =>
        val batch =
          EventAnalytics.queries(name)(spark, sfDir).collect().toSeq
        val streamed =
          EventAnalytics.queries(name)(spark, outDir).collect().toSeq
        assert(batch == streamed,
          s"$name differs between batch fixture and streamed sink")
    }
  }
}
