package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"

  test("commit -> read round trip, versions advance monotonically") {
    val root = tmpRoot()
    assert(SnapshotTable.currentVersion(spark, root) == 0L)
    val orders = Tables.load(spark, sfDir, "orders")
    val v1 = SnapshotTable.commit(spark, root, orders)
    assert(v1 == 1L)
    assert(SnapshotTable.read(spark, root).count() == orders.count())
    val v2 = SnapshotTable.commit(spark, root,
      orders.filter(col("o_orderstatus") === "F"))
    assert(v2 == 2L)
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L))
    assert(SnapshotTable.read(spark, root).count() ==
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("time travel reads the exact committed snapshot") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    SnapshotTable.commit(spark, root, nation.filter(col("n_regionkey") === 0))
    val atV1 = SnapshotTable.readVersion(spark, root, 1L)
      .select("n_name").as[String].collect().sorted.toSeq
    val base = nation.select("n_name").as[String].collect().sorted.toSeq
    assert(atV1 == base, "v1 must be the full nation table")
    assert(SnapshotTable.readVersion(spark, root, 2L).count() ==
      nation.filter(col("n_regionkey") === 0).count())
  }

  test("snapshot isolation: a reader resolved before a commit keeps " +
      "its snapshot") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    // reader resolves the current version NOW (plan pinned to v=1's dir)
    val pinned = SnapshotTable.read(spark, root)
    val before = pinned.count()
    // writer swaps in a smaller snapshot
    SnapshotTable.commit(spark, root, nation.limit(3))
    // the pinned reader still scans v=1 — immutability IS the isolation
    assert(pinned.count() == before)
    assert(SnapshotTable.read(spark, root).count() == 3)
  }

  test("racing committers serialize through the version claim") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vs = Await.result(
      Future.sequence((1 to 4).toList.map(i => Future {
        SnapshotTable.commit(spark, root, nation.limit(i), maxRetries = 16)
      })), 180.seconds).sorted
    // every commit lands on a DISTINCT version: no lost updates
    assert(vs == List(2L, 3L, 4L, 5L))
    assert(SnapshotTable.currentVersion(spark, root) == 5L)
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("diff between snapshots tags inserted and deleted rows; " +
      "applying it to `from` reproduces `to`") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation.filter(col("n_regionkey") <= 2))
    SnapshotTable.commit(spark, root, nation.filter(col("n_regionkey") >= 2))
    val d = SnapshotTable.diff(spark, root, 1L, 2L).collect()
    val inserted = d.filter(_.getAs[String]("change_type") == "inserted")
      .map(_.getAs[String]("n_name")).toSet
    val deleted = d.filter(_.getAs[String]("change_type") == "deleted")
      .map(_.getAs[String]("n_name")).toSet
    val names = nation.select("n_name", "n_regionkey").collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap
    assert(inserted == names.filter(_._2 > 2).keySet, "rows only in v2")
    assert(deleted == names.filter(_._2 < 2).keySet, "rows only in v1")
    // catch-up: v1 minus deleted plus inserted == v2 (set equality on
    // the key column; region 2 rows sit in both and never move)
    val v1 = names.filter(_._2 <= 2).keySet
    assert((v1 -- deleted ++ inserted) == names.filter(_._2 >= 2).keySet)
  }

  test("merge upserts by key into a new snapshot; deleteWhere removes " +
      "rows; history stays readable") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    // update one row (new name for key 0) and insert a new key 99
    val updates = Seq((0, "NATION_0_RENAMED", 0), (99, "NATION_99", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .select(nation.schema.map(f => col(f.name).cast(f.dataType)): _*)
    val v2 = SnapshotTable.merge(spark, root, updates, "n_nationkey")
    assert(v2 == 2L)
    val after = SnapshotTable.read(spark, root)
    assert(after.count() == nation.count() + 1, "one insert, one update")
    val names = after.filter(col("n_nationkey").isin(0, 99))
      .select("n_name").as[String].collect().toSet
    assert(names == Set("NATION_0_RENAMED", "NATION_99"))
    // history: v1 still has the original row
    assert(SnapshotTable.readVersion(spark, root, 1L)
      .filter(col("n_nationkey") === 0)
      .select("n_name").as[String].head() == "NATION_0")
    // delete the inserted row again
    val v3 = SnapshotTable.deleteWhere(spark, root,
      col("n_nationkey") === 99)
    assert(v3 == 3L)
    assert(SnapshotTable.read(spark, root).count() == nation.count())
  }

  test("compact rewrites many small files into few, as a NEW version — " +
      "old readers untouched") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
    // fragment on purpose: 16 tiny files
    SnapshotTable.commit(spark, root, orders.repartition(16))
    val pinned = SnapshotTable.read(spark, root)
    val (before, after, v) = SnapshotTable.compact(spark, root)
    assert(before == 16L, s"expected 16 input files, got $before")
    assert(after < before, s"compaction must shrink: $before -> $after")
    assert(v == 2L)
    assert(SnapshotTable.read(spark, root).count() == orders.count())
    // the reader that resolved v1 before compaction still works
    assert(pinned.count() == orders.count())
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L))
  }

  test("materialized view: refresh materializes the rollup, isStale " +
      "flips on source commits, history composes") {
    import graft.sources.MaterializedView
    val src = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
    SnapshotTable.commit(spark, src, orders)
    val view = MaterializedView.View(src, tmpRoot(),
      df => df.groupBy("o_orderstatus")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .orderBy("o_orderstatus"))
    assert(MaterializedView.isStale(spark, view), "never refreshed")
    MaterializedView.refresh(spark, view)
    assert(!MaterializedView.isStale(spark, view))
    val served = MaterializedView.read(spark, view)
      .as[(String, Long)].collect().toMap
    val expected = orders.groupBy("o_orderstatus").count()
      .as[(String, Long)].collect().toMap
    assert(served == expected)
    // a source commit makes the view stale; refresh catches up
    SnapshotTable.commit(spark, src,
      orders.filter(col("o_orderstatus") === "F"))
    assert(MaterializedView.isStale(spark, view))
    MaterializedView.refresh(spark, view)
    assert(!MaterializedView.isStale(spark, view))
    assert(MaterializedView.read(spark, view)
      .as[(String, Long)].collect().toMap.keySet == Set("F"))
    // view history is a snapshot table: v1 of the rollup still readable
    assert(SnapshotTable.readVersion(spark, view.viewRoot, 1L)
      .as[(String, Long)].collect().toMap == expected)
  }

  test("incremental refresh applies the diff delta and BIT-MATCHES a " +
      "full recompute; emptied groups drop out") {
    import graft.sources.{MaterializedView, SnapshotTable => ST}
    val src = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
    ST.commit(spark, src, orders)
    val iv = MaterializedView.IncrementalView(src, tmpRoot(),
      keys = Seq("o_orderstatus"), sumCols = Seq("o_totalprice"))
    MaterializedView.refreshIncremental(spark, iv) // first = full
    // source changes: drop every 'P' row (empties that group) and all
    // odd orderkeys (shrinks the others)
    ST.commit(spark, src, orders
      .filter(col("o_orderstatus") =!= "P" && col("o_orderkey") % 2 === 0))
    assert(MaterializedView.isStale(spark, iv))
    MaterializedView.refreshIncremental(spark, iv) // delta path
    assert(!MaterializedView.isStale(spark, iv))
    val got = MaterializedView.read(spark, iv)
      .select("o_orderstatus", "n", "sum_o_totalprice")
      .as[(String, Long, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // full recompute over the current source — must match EXACTLY
    val want = ST.read(spark, src)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(20,2)"))
          .as("sum_o_totalprice"))
      .as[(String, Long, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == want, s"delta refresh diverged: $got vs $want")
    assert(!got.contains("P"), "emptied group must drop out of the view")
  }

  test("cdcFeed maintains the view as a streaming job: each committed " +
      "source version triggers one exact incremental refresh, " +
      "including merge-on-read deletes the stream itself cannot see") {
    import graft.sources.{MaterializedView, SnapshotTable => ST}
    val src = tmpRoot()
    val cp = java.nio.file.Files.createTempDirectory("graft-mvcp").toString
    val orders = Tables.load(spark, sfDir, "orders").limit(2000)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").cache()
    ST.commit(spark, src, orders, clusterKey = Some("o_orderkey"))
    val iv = MaterializedView.IncrementalView(src, tmpRoot(),
      keys = Seq("o_orderstatus"), sumCols = Seq("o_totalprice"))
    def recomputed(): Map[String, (Long, java.math.BigDecimal)] =
      ST.read(spark, src).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,2)")).as("s"))
        .as[(String, Long, java.math.BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    def materialized(): Map[String, (Long, java.math.BigDecimal)] =
      MaterializedView.read(spark, iv)
        .select("o_orderstatus", "n", "sum_o_totalprice")
        .as[(String, Long, java.math.BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val q = MaterializedView.cdcFeed(spark, iv, cp)
    try {
      q.processAllAvailable()
      assert(materialized() == recomputed(), "first tick = full build")
      // append-only ticks ride the stream
      ST.append(spark, src, orders
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
      q.processAllAvailable()
      assert(materialized() == recomputed(), "append tick diverged")
      assert(!MaterializedView.isStale(spark, iv))
      // a MERGE-ON-READ DELETE breaks the source's accretive contract:
      // the feed must fail LOUDLY (not silently skip the removal)
      ST.deleteKeysOnRead(spark, src,
        orders.select(col("o_orderkey")).limit(500), "o_orderkey")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    // recovery: a direct diff-driven refresh sees the removal and
    // repairs the view exactly...
    MaterializedView.refreshIncremental(spark, iv)
    assert(materialized() == recomputed(), "post-MOR repair diverged")
    // ...compaction materializes the tombstones (the stream's initial
    // offset replays the whole table, so the baseline must be clean),
    // and the feed resumes on a FRESH checkpoint, exact again
    ST.compact(spark, src, targetBytes = 1L << 30)
    val cp2 = java.nio.file.Files.createTempDirectory("graft-mvcp2")
      .toString
    val q2 = MaterializedView.cdcFeed(spark, iv, cp2)
    try {
      q2.processAllAvailable()
      ST.append(spark, src, orders.limit(100)
        .withColumn("o_orderkey", col("o_orderkey") + 2000000L))
      q2.processAllAvailable()
      assert(materialized() == recomputed(), "resumed feed diverged")
    } finally q2.stop()
  }

  test("cdcFeedRetract maintains the view THROUGH merge-on-read " +
      "deletes and updates (the ticks cdcFeed must refuse): signed " +
      "preImage deltas bit-match a full recompute at every tick, an " +
      "emptied group drops out, and a full changelog REPLAY on a " +
      "fresh checkpoint no-ops below the consumed-version marker") {
    import graft.sources.{MaterializedView, SnapshotTable => ST}
    val src = tmpRoot()
    val cp = java.nio.file.Files.createTempDirectory("graft-mvrcp")
      .toString
    val orders = Tables.load(spark, sfDir, "orders").limit(2000)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").cache()
    ST.commit(spark, src, orders, clusterKey = Some("o_orderkey"))
    val iv = MaterializedView.IncrementalView(src, tmpRoot(),
      keys = Seq("o_orderstatus"), sumCols = Seq("o_totalprice"))
    def recomputed(): Map[String, (Long, java.math.BigDecimal)] =
      ST.read(spark, src).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,2)")).as("s"))
        .as[(String, Long, java.math.BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    def materialized(): Map[String, (Long, java.math.BigDecimal)] =
      MaterializedView.read(spark, iv)
        .select("o_orderstatus", "n", "sum_o_totalprice")
        .as[(String, Long, java.math.BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val q = MaterializedView.cdcFeedRetract(spark, iv, cp)
    try {
      q.processAllAvailable()
      assert(materialized() == recomputed(), "bootstrap tick diverged")
      // append: plain insert deltas
      ST.append(spark, src, orders
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
      q.processAllAvailable()
      assert(materialized() == recomputed(), "append tick diverged")
      // MOR DELETE: the retraction path cdcFeed cannot take — the
      // preImage rows subtract exactly, no exception, no repair call
      ST.deleteKeysOnRead(spark, src,
        orders.select(col("o_orderkey")).limit(500), "o_orderkey")
      q.processAllAvailable()
      assert(materialized() == recomputed(), "MOR-delete tick diverged")
      // MOR UPDATE: delete(preImage) + insert(new row) in one version
      // nets to the value change
      ST.mergeOnRead(spark, src, orders.limit(200)
        .withColumn("o_totalprice", col("o_totalprice") * 3),
        "o_orderkey")
      q.processAllAvailable()
      assert(materialized() == recomputed(), "MOR-update tick diverged")
      // empty a whole group: every 'P' row goes — the group must drop
      ST.deleteKeysOnRead(spark, src,
        ST.read(spark, src).filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey")), "o_orderkey")
      q.processAllAvailable()
      val afterDrop = materialized()
      assert(afterDrop == recomputed(), "group-drop tick diverged")
      assert(!afterDrop.contains("P"), "emptied group must drop out")
    } finally q.stop()
    // REPLAY: a fresh checkpoint makes the stream re-serve the WHOLE
    // changelog from version 1; every row is at-or-below the consumed
    // marker, so the view must not move (exactly-once without the
    // checkpoint's help)
    val viewBefore = SnapshotTable.currentVersion(spark, iv.viewRoot)
    val stateBefore = materialized()
    val cp2 = java.nio.file.Files.createTempDirectory("graft-mvrcp2")
      .toString
    val q2 = MaterializedView.cdcFeedRetract(spark, iv, cp2)
    try {
      q2.processAllAvailable()
      assert(SnapshotTable.currentVersion(spark, iv.viewRoot) ==
        viewBefore, "replayed changelog moved the view")
      assert(materialized() == stateBefore)
      // and the resumed feed still applies NEW ticks exactly
      ST.append(spark, src, orders.limit(100)
        .withColumn("o_orderkey", col("o_orderkey") + 2000000L))
      q2.processAllAvailable()
      assert(materialized() == recomputed(), "resumed feed diverged")
    } finally q2.stop()
  }

  test("applyChangeBatch contiguity guard: a mis-built feed that " +
      "skips a DATA version full-recomputes instead of silently " +
      "losing it; a metadata-only version gap stays on the " +
      "incremental path") {
    import graft.sources.{MaterializedView, SnapshotTable => ST}
    val src = tmpRoot()
    def rows(lo: Int, hi: Int, st: String, price: Double) =
      (lo to hi).map(i => (i.toLong, st, price)).toDF("k", "s", "x")
    def batchFor(ver: Long, lo: Int, hi: Int, st: String,
        price: Double) =
      (lo to hi).map(i => (ver, "insert", i.toLong, st, price))
        .toDF("_commit_version", "_change_type", "k", "s", "x")
    ST.commit(spark, src, rows(1, 100, "A", 1.0))               // v1
    val iv = MaterializedView.IncrementalView(src, tmpRoot(),
      keys = Seq("s"), sumCols = Seq("x"))
    def recomputed(): Map[String, Long] = ST.read(spark, src)
      .groupBy("s").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    def materialized(): Map[String, Long] = MaterializedView
      .read(spark, iv).select("s", "n")
      .as[(String, Long)].collect().toMap
    // bootstrap (lastV=0 -> full refresh, marker = v1)
    MaterializedView.applyChangeBatch(spark, iv,
      batchFor(1L, 1, 0, "A", 1.0)) // empty frame, schema only
    assert(materialized() == recomputed(), "bootstrap diverged")
    ST.append(spark, src, rows(101, 150, "B", 2.0))             // v2
    ST.append(spark, src, rows(151, 160, "C", 3.0))             // v3
    // MIS-BUILT feed: delivers only v3's events, skipping v2 — a
    // version-granular marker would stamp 3 and drop B forever. The
    // guard sees the data gap (v2 added files, no v2 events) and
    // recomputes.
    MaterializedView.applyChangeBatch(spark, iv,
      batchFor(3L, 151, 160, "C", 3.0))
    val afterGap = materialized()
    assert(afterGap == recomputed(),
      s"guard lost the skipped version: $afterGap")
    assert(afterGap.contains("B"),
      "v2's group B is missing — skipped changes were lost")
    // METADATA-ONLY gap: v4 renames an unused column (zero files),
    // v5 and v6 append data. A feed whose trigger ends at v5 shows
    // lo=5 against marker 3 — benign: the manifest attributes no
    // files to v4. The incremental path must be KEPT (observable:
    // v6's group is absent after the v5-only batch — a recompute
    // would have swept it in), and the result exact.
    ST.renameColumn(spark, src, "k", "kk")                      // v4
    ST.append(spark, src, rows(161, 170, "D", 4.0)
      .withColumnRenamed("k", "kk"))                            // v5
    ST.append(spark, src, rows(171, 180, "E", 5.0)
      .withColumnRenamed("k", "kk"))                            // v6
    MaterializedView.applyChangeBatch(spark, iv,
      batchFor(5L, 161, 170, "D", 4.0)
        .withColumnRenamed("k", "kk"))
    val afterMeta = materialized()
    assert(afterMeta.contains("D"), s"v5 batch not applied: $afterMeta")
    assert(!afterMeta.contains("E"),
      "metadata-only gap forced a full recompute (E swept in early)")
    // the rest of the feed lands exactly
    MaterializedView.applyChangeBatch(spark, iv,
      batchFor(6L, 171, 180, "E", 5.0)
        .withColumnRenamed("k", "kk"))
    assert(materialized() == recomputed(), "catch-up tick diverged")
  }

  test("incremental refresh with NULL keys and NULL sums still " +
      "bit-matches a full recompute") {
    import graft.sources.{MaterializedView, SnapshotTable => ST}
    val src = tmpRoot()
    def frame(rows: Seq[(Option[String], Option[Double])]) =
      rows.toDF("k", "x")
        .select(col("k"), col("x"))
    // v1: a NULL-key group, and group "b" whose only x is non-null
    ST.commit(spark, src, frame(Seq(
      None -> Some(1.0), None -> Some(2.0),
      Some("a") -> Some(5.0), Some("b") -> Some(7.0),
      Some("c") -> None)))
    val iv = MaterializedView.IncrementalView(src, tmpRoot(),
      keys = Seq("k"), sumCols = Seq("x"))
    MaterializedView.refreshIncremental(spark, iv)
    // v2: NULL-key group changes; b's only non-null x is REMOVED but a
    // null-x row remains (sum must become NULL, not 0.00); c unchanged
    ST.commit(spark, src, frame(Seq(
      None -> Some(1.0),
      Some("a") -> Some(5.0), Some("b") -> None,
      Some("c") -> None)))
    MaterializedView.refreshIncremental(spark, iv) // delta path
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "n", "sum_x", "cnt_x")
        .collect().map(r => Option(r.getString(0)) ->
          ((r.getLong(1), Option(r.getDecimal(2)), r.getLong(3)))).toMap
    val got = snap(MaterializedView.read(spark, iv))
    val want = snap(ST.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(20,2)")).as("sum_x"),
        count(col("x")).as("cnt_x")))
    assert(got == want, s"NULL handling diverged: $got vs $want")
    assert(got(Some("b"))._2.isEmpty, "all-NULL group's sum must be NULL")
    assert(got.contains(None), "NULL-key group must merge, not duplicate")
    // a fresh view no-ops instead of committing a duplicate version
    val vBefore = ST.currentVersion(spark, iv.viewRoot)
    assert(MaterializedView.refreshIncremental(spark, iv) == vBefore)
    assert(ST.currentVersion(spark, iv.viewRoot) == vBefore)
  }

  test("compact aborts on a concurrent commit instead of silently " +
      "dropping it; empty table is a no-op") {
    val root = tmpRoot()
    assert(SnapshotTable.compact(spark, root) == ((0L, 0L, 0L)))
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    // simulate a racing committer that claimed v=2 before compact's
    // conditional commit reaches it
    nation.limit(1).write.parquet(s"$root/v=2")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/_commits/2.claim"))
    intercept[SnapshotTable.CommitConflict] {
      SnapshotTable.compact(spark, root)
    }
    // the table is untouched: still v1, still all rows
    assert(SnapshotTable.currentVersion(spark, root) == 1L)
    assert(SnapshotTable.read(spark, root).count() == nation.count())
  }

  test("expireSnapshots drops only the oldest, never the current") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    (1 to 4).foreach(i =>
      SnapshotTable.commit(spark, root, nation.limit(i)))
    val dropped = SnapshotTable.expireSnapshots(spark, root, keep = 2)
    assert(dropped == Seq(1L, 2L))
    assert(SnapshotTable.versions(spark, root) == Seq(3L, 4L))
    assert(SnapshotTable.read(spark, root).count() == 4)
    intercept[Exception] {
      SnapshotTable.readVersion(spark, root, 1L).count()
    }
  }

  test("a crashed commit (claim + orphan segment, no record) stays " +
      "invisible and is skipped, then vacuumed") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    // simulate a crash between claim and publish: claim 2 and a staged
    // segment exist, but no _commits/2 record and no manifest
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/_commits/2.claim"))
    nation.limit(1).write.parquet(s"$root/_data/seg-crashed")
    assert(SnapshotTable.currentVersion(spark, root) == 1L)
    assert(SnapshotTable.versions(spark, root) == Seq(1L))
    assert(SnapshotTable.read(spark, root).count() == nation.count())
    intercept[IllegalArgumentException] {
      SnapshotTable.readVersion(spark, root, 2L)
    }
    // the next commit claims past the orphan — never resurrects it
    val v = SnapshotTable.commit(spark, root, nation.limit(2))
    assert(v == 3L)
    assert(SnapshotTable.read(spark, root).count() == 2)
    // minAgeMs = 0: the default 10-minute floor exists to protect
    // in-flight commits, which this test does not have
    val removed = SnapshotTable.vacuum(spark, root, minAgeMs = 0L)
    assert(removed.exists(_.endsWith("2.claim")))
    assert(removed.exists(_.endsWith("seg-crashed")))
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 3L))
    assert(SnapshotTable.readVersion(spark, root, 3L).count() == 2)
    // the committed versions' data survived the vacuum
    assert(SnapshotTable.read(spark, root).count() == 2)
    assert(SnapshotTable.readVersion(spark, root, 1L).count() ==
      nation.count())
  }

  // ---- round 7: manifest-granularity commits ----

  private def fileMtimes(root: String, v: Long)
  : Map[String, Long] =
    SnapshotTable.manifest(spark, root, v).map { e =>
      e.path -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$root/${e.path}")).toMillis
    }.toMap

  test("append commits add files WITHOUT touching any prior data file " +
      "(path + mtime identity); old versions still byte-match") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    val v1Bytes = SnapshotTable.readVersion(spark, root, 1L)
      .orderBy("n_nationkey").collect().toSeq
    val v1Files = fileMtimes(root, 1L)
    val extra = nation.limit(3)
      .withColumn("n_nationkey", col("n_nationkey") + 100)
    val v2 = SnapshotTable.append(spark, root, extra)
    assert(v2 == 2L)
    // every v1 file appears in v2's manifest with IDENTICAL path+mtime
    val v2Files = fileMtimes(root, 2L)
    v1Files.foreach { case (p, t) =>
      assert(v2Files.get(p).contains(t),
        s"append touched prior data file $p")
    }
    assert(v2Files.size > v1Files.size, "append must add files")
    // semantics: v2 = v1 + extra; v1 re-read byte-matches
    assert(SnapshotTable.read(spark, root).count() ==
      nation.count() + 3)
    assert(SnapshotTable.readVersion(spark, root, 1L)
      .orderBy("n_nationkey").collect().toSeq == v1Bytes)
  }

  test("diff of an append-only commit reads ONLY the added files — " +
      "O(batch), not O(table)") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
    SnapshotTable.commit(spark, root, orders)
    val batch = orders.limit(7)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    SnapshotTable.append(spark, root, batch)
    val d = SnapshotTable.diff(spark, root, 1L, 2L)
    // the plan must scan only the files v2 added, never v1's
    val added = SnapshotTable.manifest(spark, root, 2L).map(_.path).toSet --
      SnapshotTable.manifest(spark, root, 1L).map(_.path).toSet
    val scanned = d.inputFiles.toSeq
    assert(scanned.nonEmpty &&
      scanned.forall(f => added.exists(a => f.endsWith(a))),
      s"diff scanned beyond the added files: $scanned")
    val rows = d.collect()
    assert(rows.length == 7)
    assert(rows.forall(_.getAs[String]("change_type") == "inserted"))
  }

  test("merge touching one key of a clustered table rewrites at most " +
      "one data file; the rest carry over by reference") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    // bootstrap merge clusters on the key into several files
    SnapshotTable.merge(spark, root, orders, "o_orderkey", files = 8)
    val before = SnapshotTable.manifest(spark, root, 1L)
    assert(before.size >= 4, s"want a multi-file table, got $before")
    assert(before.forall(_.statsKey.contains("o_orderkey")),
      "clustered segment must carry per-file key stats")
    val oneKey = orders.limit(1)
      .withColumn("o_totalprice", lit(0.0))
    SnapshotTable.merge(spark, root, oneKey, "o_orderkey", files = 8)
    val after = SnapshotTable.manifest(spark, root, 2L)
    val beforePaths = before.map(_.path).toSet
    val afterPaths = after.map(_.path).toSet
    val rewritten = beforePaths -- afterPaths
    assert(rewritten.size <= 1,
      s"one-key merge rewrote ${rewritten.size} files: $rewritten")
    assert((beforePaths & afterPaths).size == beforePaths.size - rewritten.size,
      "untouched files must carry over by reference")
    // semantics unharmed
    val k = oneKey.select("o_orderkey").as[Long].head()
    assert(SnapshotTable.read(spark, root)
      .filter(col("o_orderkey") === k)
      .select("o_totalprice").as[Double].head() == 0.0)
    assert(SnapshotTable.read(spark, root).count() == orders.count())
  }

  test("deleteWhere keeps rows where the predicate is NULL — SQL " +
      "DELETE semantics, not filter complement") {
    val root = tmpRoot()
    val df = Seq[(Integer, java.lang.Double)](
      (1, 5.0), (2, null), (3, 50.0)).toDF("id", "x")
    SnapshotTable.commit(spark, root, df)
    // x > 10 is NULL for id=2: DELETE must remove only id=3
    SnapshotTable.deleteWhere(spark, root, col("x") > 10.0)
    val kept = SnapshotTable.read(spark, root)
      .select("id").as[Int].collect().sorted.toSeq
    assert(kept == Seq(1, 2),
      s"NULL-predicate row must survive a DELETE, got $kept")
  }

  test("deleteFilters drops wholly-matching files by METADATA edit " +
      "alone — zero data IO — and carries the rest by reference") {
    import org.apache.spark.sql.sources._
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.merge(spark, root, orders, "o_orderkey", files = 8)
    val before = SnapshotTable.manifest(spark, root, 1L)
    assert(before.size >= 4)
    val mtimes = fileMtimes(root, 1L)
    // delete up to the FIRST file's own hi: that file proves CoverAll,
    // every other file (lo > hi0) proves CoverNone — nothing scanned
    val hi0 = before.map(_.hi.get.toLong).min
    val st = SnapshotTable.deleteFilters(spark, root,
      Seq(LessThanOrEqual("o_orderkey", hi0)))
    assert(st.droppedFiles >= 1, st.toString)
    assert(st.rewrittenFiles == 0, st.toString)
    assert(st.scannedFiles == 0,
      s"stats must classify every file, scanned ${st.scannedFiles}")
    // carried files keep path+mtime identity (never rewritten)
    val after = fileMtimes(root, st.version)
    after.foreach { case (p, t) =>
      assert(mtimes.get(p).contains(t), s"delete touched carried $p")
    }
    // semantics: exactly the filter complement; old version intact
    assert(SnapshotTable.read(spark, root).count() ==
      orders.filter(col("o_orderkey") > hi0).count())
    assert(SnapshotTable.readVersion(spark, root, 1L).count() ==
      orders.count())
  }

  test("deleteFilters on a single key rewrites ONE file after the " +
      "matched-file scan clears the other candidates") {
    import org.apache.spark.sql.sources._
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus")
    SnapshotTable.merge(spark, root, orders, "o_orderkey", files = 8)
    val before = SnapshotTable.manifest(spark, root, 1L)
    // an EXISTING key strictly inside one file's range: that file is
    // Unknown, every other file's range excludes it (CoverNone)
    val f0 = before.minBy(_.lo.get.toLong)
    val (lo0, hi0) = (f0.lo.get.toLong, f0.hi.get.toLong)
    val k = orders
      .filter(col("o_orderkey") > lo0 && col("o_orderkey") < hi0)
      .select("o_orderkey").as[Long].head()
    val st = SnapshotTable.deleteFilters(spark, root,
      Seq(EqualTo("o_orderkey", k)))
    assert(st.droppedFiles == 0, st.toString)
    assert(st.rewrittenFiles == 1, st.toString)
    assert(st.scannedFiles == 1,
      s"only the in-range file should be scanned, got ${st.scannedFiles}")
    assert(SnapshotTable.read(spark, root).count() == orders.count() - 1)
    assert(SnapshotTable.read(spark, root)
      .filter(col("o_orderkey") === k).count() == 0)
  }

  test("delete that matches nothing publishes NO new version") {
    import org.apache.spark.sql.sources._
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    val st = SnapshotTable.deleteFilters(spark, root,
      Seq(EqualTo("n_nationkey", -1L)))
    assert(st.version == 1L && st.droppedFiles == 0 &&
      st.rewrittenFiles == 0, st.toString)
    assert(SnapshotTable.versions(spark, root) == Seq(1L))
  }

  test("unconditional deleteFilters truncates by manifest edit; " +
      "prior versions still time-travel") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)
    val st = SnapshotTable.deleteFilters(spark, root, Seq.empty)
    assert(st.rewrittenFiles == 0 && st.scannedFiles == 0 &&
      st.droppedFiles >= 1, st.toString)
    assert(SnapshotTable.read(spark, root).count() == 0)
    assert(SnapshotTable.readVersion(spark, root, 1L).count() ==
      nation.count())
  }

  test("opaque-Column deleteWhere rewrites only the files that " +
      "contain matching rows (matched-file scan, not O(table) COW)") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus")
    SnapshotTable.merge(spark, root, orders, "o_orderkey", files = 8)
    val before = SnapshotTable.manifest(spark, root, 1L)
    val mtimes = fileMtimes(root, 1L)
    val k = before.head.lo.get.toLong
    // an opaque predicate (no Filter translation possible for the
    // caller) hitting one key: stats can't classify, the scan can
    SnapshotTable.deleteWhere(spark, root,
      col("o_orderkey") * 2 === k * 2)
    val after = SnapshotTable.manifest(spark, root, 2L)
    val rewritten = before.map(_.path).toSet -- after.map(_.path).toSet
    assert(rewritten.size == 1,
      s"one-key delete rewrote ${rewritten.size} files")
    after.filter(e => mtimes.contains(e.path)).foreach { e =>
      assert(fileMtimes(root, 2L)(e.path) == mtimes(e.path),
        s"carried file ${e.path} was touched")
    }
    assert(SnapshotTable.read(spark, root).count() == orders.count() - 1)
  }

  test("deleteFilters reads rewrites through tombstones: a COW delete " +
      "after merge-on-read commits cannot resurrect MOR-deleted rows") {
    import org.apache.spark.sql.sources._
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus")
    SnapshotTable.merge(spark, root, orders, "o_orderkey", files = 4)
    val m = SnapshotTable.manifest(spark, root, 1L)
    val lo0 = m.map(_.lo.get.toLong).min
    val keys = orders.orderBy("o_orderkey")
      .limit(3).select("o_orderkey").as[Long].collect().toSeq
    val (morKey, cowKey) = (keys(0), keys(2))
    assert(morKey == lo0)
    // MOR-delete morKey: tombstone only, its data file untouched
    SnapshotTable.deleteKeysOnRead(spark, root,
      Seq(morKey).toDF("o_orderkey"), "o_orderkey")
    // COW-delete cowKey: rewrites the file that still HOLDS morKey's
    // bytes; reading through the tombstone filter must not revive it
    val st = SnapshotTable.deleteFilters(spark, root,
      Seq(EqualTo("o_orderkey", cowKey)))
    assert(st.rewrittenFiles == 1, st.toString)
    val got = SnapshotTable.read(spark, root)
      .filter(col("o_orderkey").isin(morKey, cowKey)).count()
    assert(got == 0,
      s"resurrected a deleted row (morKey=$morKey cowKey=$cowKey)")
    assert(SnapshotTable.read(spark, root).count() == orders.count() - 2)
  }

  test("concurrent merges with disjoint keys all land — no lost " +
      "updates (read-modify-write goes through CAS + re-derive)") {
    val root = tmpRoot()
    val base = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    SnapshotTable.commit(spark, root, base)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((1 to 4).toList.map(i => Future {
      SnapshotTable.merge(spark, root,
        Seq((100L + i, s"new$i")).toDF("k", "v"), "k",
        maxRetries = 16)
    })), 180.seconds)
    val got = SnapshotTable.read(spark, root)
      .select("k").as[Long].collect().toSet
    val want = (1 to 20).map(_.toLong).toSet ++
      (1 to 4).map(i => 100L + i).toSet
    assert(got == want, s"a concurrent merge was lost: ${want -- got}")
  }

  test("merge-on-read: the commit stages only the batch + a key " +
      "tombstone (every prior file untouched) and reads back exactly " +
      "the copy-on-write result") {
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val updates = orders.limit(5).withColumn("o_totalprice", lit(-1.0))
    val newRows = orders.limit(3)
      .withColumn("o_orderkey", col("o_orderkey") + 9000000L)
      .withColumn("o_totalprice", lit(-1.0))
    val allUpd = updates.unionByName(newRows)
    val (cowRoot, morRoot) = (tmpRoot(), tmpRoot())
    Seq(cowRoot, morRoot).foreach(r =>
      SnapshotTable.merge(spark, r, orders, "o_orderkey", files = 6))
    val priorFiles = fileMtimes(morRoot, 1L)
    SnapshotTable.merge(spark, cowRoot, allUpd, "o_orderkey")
    SnapshotTable.mergeOnRead(spark, morRoot, allUpd, "o_orderkey")
    // every v1 file of the MOR table is untouched AND still referenced
    val morManifest = SnapshotTable.manifest(spark, morRoot, 2L)
    val morFiles = fileMtimes(morRoot, 2L)
    priorFiles.foreach { case (p, t) =>
      assert(morFiles.get(p).contains(t),
        s"merge-on-read touched prior file $p")
    }
    assert(morManifest.count(_.kind == "t") == 1,
      "exactly one tombstone file per MOR commit")
    // identical final state through both write paths
    def snap(r: String) = SnapshotTable.read(spark, r)
      .orderBy("o_orderkey").collect().toSeq
    assert(snap(morRoot) == snap(cowRoot),
      "merge-on-read must read back exactly the COW merge result")
    // diff across a MOR commit is still exact
    val d = SnapshotTable.diff(spark, morRoot, 1L, 2L)
    assert(d.filter(col("change_type") === "inserted").count() == 8)
  }

  test("merge-on-read delete + compaction: a tombstone-only commit " +
      "hides the keys with zero data IO; a later MOR merge wins by " +
      "sequence; compact materializes and clears every tombstone") {
    import spark.implicits._
    val root = tmpRoot()
    val base = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    SnapshotTable.merge(spark, root, base, "k", files = 4)
    val priorFiles = fileMtimes(root, 1L)
    SnapshotTable.deleteKeysOnRead(spark, root,
      Seq(7L, 13L, 99L).toDF("k"), "k")
    val m2 = SnapshotTable.manifest(spark, root, 2L)
    assert(m2.count(_.kind == "t") == 1 &&
      m2.count(_.kind == "d") == priorFiles.size,
      "delete commit must add exactly one tombstone and no data")
    priorFiles.foreach { case (p, t) =>
      assert(fileMtimes(root, 2L).get(p).contains(t)) }
    assert(SnapshotTable.read(spark, root).count() == 97)
    assert(SnapshotTable.read(spark, root)
      .filter(col("k").isin(7L, 13L, 99L)).count() == 0)
    // prior version still time-travels to the deleted rows
    assert(SnapshotTable.readVersion(spark, root, 1L).count() == 100)
    // a later MOR merge re-inserts key 13: newer seq beats the tombstone
    SnapshotTable.mergeOnRead(spark, root,
      Seq((13L, "reborn")).toDF("k", "v"), "k")
    val afterMerge = SnapshotTable.read(spark, root)
    assert(afterMerge.count() == 98)
    assert(afterMerge.filter(col("k") === 13L)
      .select("v").as[String].head() == "reborn")
    // compaction materializes the merge view and clears tombstones,
    // and the clustered form regenerates per-file stats for pruning
    val (_, _, v) = SnapshotTable.compact(spark, root,
      clusterKey = Some("k"))
    val compacted = SnapshotTable.manifest(spark, root, v)
    assert(compacted.forall(_.kind == "d"),
      "compact must clear every tombstone")
    assert(compacted.forall(_.statsKey.contains("k")),
      "clustered compaction must regenerate per-file stats")
    assert(SnapshotTable.read(spark, root).orderBy("k").collect().toSeq ==
      afterMerge.orderBy("k").collect().toSeq)
    // a fresh-key MOR merge after compaction is provably all-inserts:
    // the manifest stats prune everything, so NO tombstone is written
    // and the commit is a pure append (history stays O(batch)-diffable)
    val before = SnapshotTable.manifest(spark, root, v).map(_.path).toSet
    SnapshotTable.mergeOnRead(spark, root,
      Seq((1000L, "fresh")).toDF("k", "v"), "k")
    val after = SnapshotTable.manifest(spark, root, v + 1)
    assert(after.forall(_.kind == "d"),
      "fresh-key MOR merge must not write a tombstone")
    assert(before.subsetOf(after.map(_.path).toSet),
      "fresh-key MOR merge must carry every prior file")
    assert(SnapshotTable.read(spark, root).count() == 99)
  }

  test("merge-on-read NULL-key semantics match copy-on-write: a NULL " +
      "key matches nothing (SQL IN), so NULL-key rows accumulate " +
      "identically through both write paths") {
    def frame(rows: Seq[(Option[Long], String)]) =
      rows.toDF("k", "v")
    val base = frame(Seq(None -> "old_null", Some(1L) -> "one",
      Some(2L) -> "two"))
    val batch = frame(Seq(None -> "new_null", Some(1L) -> "one_v2"))
    val (cowRoot, morRoot) = (tmpRoot(), tmpRoot())
    Seq(cowRoot, morRoot).foreach(r =>
      SnapshotTable.merge(spark, r, base, "k"))
    SnapshotTable.merge(spark, cowRoot, batch, "k")
    SnapshotTable.mergeOnRead(spark, morRoot, batch, "k")
    def snap(r: String) = SnapshotTable.read(spark, r)
      .collect().map(row => Option(row.get(0)) -> row.getString(1))
      .toSeq.sortBy(_._2)
    assert(snap(morRoot) == snap(cowRoot),
      s"NULL-key divergence: ${snap(morRoot)} vs ${snap(cowRoot)}")
    assert(snap(morRoot).count(_._1.isEmpty) == 2,
      "both NULL-key rows must survive (NULL never matches a key)")
  }

  test("merge-on-read rejects a second tombstone key at commit time " +
      "instead of committing an unreadable table") {
    val root = tmpRoot()
    val base = (1 to 10).map(i => (i.toLong, i.toString, i * 2L))
      .toDF("a", "v", "b")
    SnapshotTable.merge(spark, root, base, "a")
    SnapshotTable.mergeOnRead(spark, root,
      Seq((1L, "x", 99L)).toDF("a", "v", "b"), "a")
    intercept[IllegalArgumentException] {
      SnapshotTable.deleteKeysOnRead(spark, root,
        Seq(4L).toDF("b"), "b")
    }
    // the failed commit left the table fully readable
    assert(SnapshotTable.read(spark, root).count() == 10)
  }

  test("history reports per-version file sharing: appends share every " +
      "prior file, replacements share none") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)                      // v1
    SnapshotTable.append(spark, root, nation.limit(2)
      .withColumn("n_nationkey", col("n_nationkey") + 100))        // v2
    SnapshotTable.commit(spark, root, nation.limit(3))             // v3
    val h = SnapshotTable.history(spark, root)
      .orderBy("version")
      .select("version", "n_files", "shared_files", "added_files")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(h.map(_._1) == Seq(1L, 2L, 3L))
    val byV = h.map(r => r._1 -> r).toMap
    assert(byV(1L)._3 == 0L, "v1 has no predecessor to share with")
    assert(byV(2L)._3 == byV(1L)._2,
      "an append must share EVERY file of its predecessor")
    assert(byV(2L)._4 > 0L, "an append adds files")
    assert(byV(3L)._3 == 0L, "a replacement shares nothing")
    assert(h.forall(_._2 > 0L))
  }

  test("concurrent appends all land: every loser re-reads the " +
      "winner's manifest, so no commit's files are dropped") {
    val root = tmpRoot()
    val base = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    SnapshotTable.commit(spark, root, base)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((1 to 4).toList.map(i => Future {
      SnapshotTable.append(spark, root,
        Seq((200L + i, s"app$i")).toDF("k", "v"), maxRetries = 16)
    })), 180.seconds)
    assert(SnapshotTable.versions(spark, root) == (1L to 5L))
    val got = SnapshotTable.read(spark, root)
      .select("k").as[Long].collect().toSet
    val want = (1 to 10).map(_.toLong).toSet ++
      (1 to 4).map(i => 200L + i).toSet
    assert(got == want, s"a concurrent append was lost: ${want -- got}")
  }

  test("expire with shared files: appended history keeps every file " +
      "the surviving versions reference") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation) // v1
    SnapshotTable.append(spark, root, nation.limit(2)
      .withColumn("n_nationkey", col("n_nationkey") + 100)) // v2
    SnapshotTable.append(spark, root, nation.limit(1)
      .withColumn("n_nationkey", col("n_nationkey") + 200)) // v3
    val total = nation.count() + 3
    assert(SnapshotTable.read(spark, root).count() == total)
    val dropped = SnapshotTable.expireSnapshots(spark, root, keep = 1)
    assert(dropped == Seq(1L, 2L))
    // v3 references v1's and v2's files — they MUST survive the expiry
    assert(SnapshotTable.read(spark, root).count() == total)
    intercept[IllegalArgumentException] {
      SnapshotTable.readVersion(spark, root, 1L)
    }
  }

  test("materialized-view expire prunes freshness markers of dropped " +
      "view versions, keeping the current one") {
    import graft.sources.MaterializedView
    val src = tmpRoot()
    val viewRoot = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, src, nation)
    val view = MaterializedView.View(src, viewRoot,
      df => df.groupBy("n_regionkey")
        .agg(count(lit(1)).as("n")))
    (1 to 3).foreach { i =>
      MaterializedView.refresh(spark, view)
      SnapshotTable.commit(spark, src, nation.limit(25 - i))
    }
    def markers(): Seq[String] =
      new java.io.File(viewRoot).listFiles.toSeq.map(_.getName)
        .filter(_.startsWith("_source_version."))
    assert(markers().size == 3, s"expected 3 markers: ${markers()}")
    MaterializedView.expire(spark, viewRoot, keep = 1)
    assert(markers() == Seq("_source_version.3"),
      s"markers not pruned to the survivor: ${markers()}")
    assert(!MaterializedView.isStale(spark, view) ||
      MaterializedView.refreshedAgainst(spark, viewRoot) == 3L)
  }

  test("cdcFeedRetract with retain: a long-running feed keeps view " +
      "history BOUNDED (versions + markers pruned every tick) and " +
      "expiry never breaks the marker chain — every post-expiry tick " +
      "still lands exactly") {
    import graft.sources.{MaterializedView, SnapshotTable => ST}
    val src = tmpRoot()
    val cp = java.nio.file.Files.createTempDirectory("graft-mvexp")
      .toString
    val base = (1 to 500).map(i => (i.toLong, s"k${i % 5}", i * 1.0))
      .toDF("id", "k", "x")
    ST.commit(spark, src, base, clusterKey = Some("id"))
    val iv = MaterializedView.IncrementalView(src, tmpRoot(),
      keys = Seq("k"), sumCols = Seq("x"))
    def recomputed() = ST.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(20,2)")).as("s"))
      .as[(String, Long, java.math.BigDecimal)].collect().toSet
    def materialized() = MaterializedView.read(spark, iv)
      .select("k", "n", "sum_x")
      .as[(String, Long, java.math.BigDecimal)].collect().toSet
    def markers(): Seq[String] =
      new java.io.File(iv.viewRoot).listFiles.toSeq.map(_.getName)
        .filter(_.startsWith("_source_version."))
    val q = MaterializedView.cdcFeedRetract(spark, iv, cp,
      retain = Some(2))
    try {
      q.processAllAvailable()
      // a day of ticks in miniature: appends AND a MOR delete, each
      // tick minting a view version the retention must reap
      (1 to 4).foreach { i =>
        ST.append(spark, src, base.limit(50)
          .withColumn("id", col("id") + lit(i * 10000L)))
        q.processAllAvailable()
        assert(materialized() == recomputed(), s"tick $i diverged")
        assert(ST.versions(spark, iv.viewRoot).size <= 2,
          s"tick $i: view history unbounded " +
            s"(${ST.versions(spark, iv.viewRoot)})")
        assert(markers().size <= 2,
          s"tick $i: markers unbounded (${markers()})")
      }
      ST.deleteKeysOnRead(spark, src,
        base.select(col("id")).limit(100), "id")
      q.processAllAvailable()
      assert(materialized() == recomputed(), "post-expiry MOR delete " +
        "tick diverged — expiry broke the marker chain")
      assert(ST.versions(spark, iv.viewRoot).size <= 2)
    } finally q.stop()
  }

  test("incremental refresh consumes O(batch) input on an append-only " +
      "source: observed delta rows track the batch, not the table") {
    import graft.sources.MaterializedView
    val src = tmpRoot()
    val base = (1 to 1000).map(i => (i % 7, i.toDouble)).toDF("k", "x")
    SnapshotTable.commit(spark, src, base)
    val iv = MaterializedView.IncrementalView(src, tmpRoot(),
      keys = Seq("k"), sumCols = Seq("x"))
    MaterializedView.refreshIncremental(spark, iv) // first = full
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
      val batchSizes = Seq(10, 20, 30)
      batchSizes.foreach { n =>
        SnapshotTable.append(spark, src,
          (1 to n).map(i => (i % 7, i * 1.5)).toDF("k", "x"))
        MaterializedView.refreshIncremental(spark, iv)
      }
      // listener delivery is async — wait for all three
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (observed.size < batchSizes.size &&
        System.nanoTime() < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val sizes = observed.asScala.toSeq
      assert(sizes.sorted == Seq(10L, 20L, 30L),
        s"refresh must read batch-sized deltas, got $sizes " +
          "(an O(table) refresh would read >=1000 rows)")
      // and the view still bit-matches a full recompute
      val gotView = MaterializedView.read(spark, iv)
        .select("k", "n", "sum_x").collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
      val want = SnapshotTable.read(spark, src).groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(20,2)")).as("sum_x"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
      assert(gotView == want)
    } finally spark.listenerManager.unregister(listener)
  }

  test("schema evolution: an appended batch with a new column evolves " +
      "the table schema from metadata — old rows read NULL, time " +
      "travel keeps the old schema, type changes are refused") {
    val root = tmpRoot()
    val v1df = (1 to 10).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    SnapshotTable.commit(spark, root, v1df)
    val v2df = (11 to 15).map(i => (i.toLong, s"n$i", i * 1.5))
      .toDF("id", "name", "score")
    SnapshotTable.append(spark, root, v2df)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.schema.fieldNames.toSeq == Seq("id", "name", "score"),
      "batch-only columns must append to the table schema")
    assert(cur.count() == 15)
    val scores = cur.select("id", "score").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert((1 to 10).forall(i => scores(i.toLong).isEmpty),
      "pre-evolution rows must read NULL for the added column")
    assert(scores(12L).contains(18.0))
    // time travel resolves the schema AS OF that version
    assert(SnapshotTable.readVersion(spark, root, 1L)
      .schema.fieldNames.toSeq == Seq("id", "name"))
    // the DESCRIBE-style metadata query answers without data IO
    assert(SnapshotTable.tableSchema(spark, root).get
      .fieldNames.toSeq == Seq("id", "name", "score"))
    // an incompatible type change must fail the COMMIT, not the reads
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root,
        Seq((16L, 99)).toDF("id", "name"))
    }
    assert(SnapshotTable.currentVersion(spark, root) == 2L,
      "a refused commit must not advance the version log")
  }

  test("schema evolution composes with merge, stats-pruned reads and " +
      "diff across the evolved boundary") {
    val root = tmpRoot()
    val base = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    SnapshotTable.merge(spark, root, base, "id") // v1, clustered
    SnapshotTable.append(spark, root,
      (101 to 120).map(i => (i.toLong, s"n$i", i * 1.0))
        .toDF("id", "name", "score"),
      clusterKey = Some("id"))                   // v2, evolves
    // a COW merge of evolved-schema updates onto pre-evolution files
    SnapshotTable.merge(spark, root,
      Seq((5L, "n5x", 5.5), (200L, "n200", 200.0))
        .toDF("id", "name", "score"), "id")      // v3
    val cur = SnapshotTable.read(spark, root)
    val byId = cur.collect().map(r => r.getLong(0) ->
      ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(byId.size == 121)
    assert(byId(5L) == (("n5x", Some(5.5))), "merged row must update")
    assert(byId(6L) == (("n6", None)), "untouched old row keeps NULL")
    assert(byId(200L) == (("n200", Some(200.0))))
    // stats-pruned read over the evolved table: full schema, right rows
    val got = SnapshotTable.readWhere(spark, root, "id",
      lo = Some("110"), hi = Some("115"))
    assert(got.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(got.count() == 6)
    // diff across the evolution: the appended batch, under to-schema
    val d = SnapshotTable.diff(spark, root, 1L, 2L)
    assert(d.schema.fieldNames.contains("score"))
    assert(d.filter(col("change_type") === "inserted").count() == 20)
    assert(d.filter(col("change_type") === "deleted").count() == 0)
  }

  test("Z-ordered commits prune range reads on EITHER column: every " +
      "file is a box in (a, b) space with min/max recorded for both") {
    val root = tmpRoot()
    // a 200 x 200 grid: one-column clustering would leave the second
    // column's per-file range spanning everything; the Z curve gives
    // every file a compact box instead
    val df = (0 until 40000).map(i => (i % 200, i / 200)).toDF("a", "b")
    SnapshotTable.commitZOrdered(spark, root, df, "a", "b", files = 16)
    val total = SnapshotTable.manifest(spark, root, 1L).size
    assert(total > 4, "need a real file grid to prove box pruning")
    val ra = SnapshotTable.readWhere(spark, root, "a",
      lo = Some("10"), hi = Some("20"))
    val rb = SnapshotTable.readWhere(spark, root, "b",
      lo = Some("10"), hi = Some("20"))
    assert(ra.inputFiles.length < total,
      s"a-band opened ${ra.inputFiles.length} of $total")
    assert(rb.inputFiles.length < total,
      s"b-band opened ${rb.inputFiles.length} of $total")
    assert(ra.count() ==
      df.filter(col("a") >= 10 && col("a") <= 20).count())
    assert(rb.count() ==
      df.filter(col("b") >= 10 && col("b") <= 20).count())
    // point lookups on the SECOND dimension ride the same box stats
    val rk = SnapshotTable.readKeys(spark, root, "b", Seq(5).toDF("b"))
    assert(rk.inputFiles.length < total,
      s"b-point opened ${rk.inputFiles.length} of $total")
    assert(rk.count() == 200)
    // a BOX predicate prunes on both dimensions at once: the kept set
    // is the intersection, so it opens no more files than either band
    val box = SnapshotTable.readWhereDims(spark, root,
      Seq(("a", Some("10"), Some("20")), ("b", Some("10"), Some("20"))))
    assert(box.inputFiles.length <=
      math.min(ra.inputFiles.length, rb.inputFiles.length),
      s"box opened ${box.inputFiles.length} files, bands opened " +
        s"${ra.inputFiles.length}/${rb.inputFiles.length}")
    assert(box.count() == df.filter(col("a") >= 10 && col("a") <= 20 &&
      col("b") >= 10 && col("b") <= 20).count())
  }

  test("THREE-column Z-order: the manifest carries a stats box for " +
      "every curve dimension, each prunes alone, and a 3-D box read " +
      "opens no more files than its tightest single band") {
    val root = tmpRoot()
    // a 32 x 32 x 32 grid over three columns
    val df = (0 until 32768).map(i =>
      (i % 32, (i / 32) % 32, i / 1024)).toDF("a", "b", "c")
    SnapshotTable.commitZOrdered(spark, root, df, "a", "b",
      files = 16, more = Seq("c"))
    val entries = SnapshotTable.manifest(spark, root, 1L)
    val total = entries.size
    assert(total > 4, "need a real file grid to prove box pruning")
    assert(entries.forall(e => e.statsFor("c").isDefined),
      "every file must carry the third dimension's stats")
    def band(k: String) = SnapshotTable.readWhere(spark, root, k,
      lo = Some("4"), hi = Some("9"))
    val (ra, rb, rc) = (band("a"), band("b"), band("c"))
    for ((r, n) <- Seq((ra, "a"), (rb, "b"), (rc, "c")))
      assert(r.inputFiles.length < total,
        s"$n-band opened ${r.inputFiles.length} of $total")
    for ((r, k) <- Seq((ra, "a"), (rb, "b"), (rc, "c")))
      assert(r.count() ==
        df.filter(col(k) >= 4 && col(k) <= 9).count())
    val box = SnapshotTable.readWhereDims(spark, root, Seq(
      ("a", Some("4"), Some("9")), ("b", Some("4"), Some("9")),
      ("c", Some("4"), Some("9"))))
    assert(box.inputFiles.length <= Seq(ra, rb, rc)
        .map(_.inputFiles.length).min,
      s"3-D box opened ${box.inputFiles.length} files")
    assert(box.count() == df.filter(col("a").between(4, 9) &&
      col("b").between(4, 9) && col("c").between(4, 9)).count())
  }

  test("mixed concurrent maintenance serializes: racing appends, a " +
      "COW merge and a compactor leave a contiguous version history, " +
      "every committed row intact, and every version readable") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 1000).map(i => (i, 0)).toDF("k", "gen"),
      clusterKey = Some("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.Future
    val fa = Future(SnapshotTable.append(spark, root,
      (10001 to 10100).map(i => (i, 1)).toDF("k", "gen"),
      maxRetries = 30))
    val fb = Future(SnapshotTable.append(spark, root,
      (20001 to 20100).map(i => (i, 2)).toDF("k", "gen"),
      maxRetries = 30))
    val fm = Future(SnapshotTable.merge(spark, root,
      (1 to 100).map(i => (i, 3)).toDF("k", "gen"), "k",
      maxRetries = 30))
    val fc = Future {
      // compaction is maintenance: losing its race is a legal outcome
      // (abort, never a silent drop) — what must hold is that a
      // SUCCESSFUL compaction preserves every row
      try SnapshotTable.compact(spark, root, clusterKey = Some("k"))
      catch { case _: graft.sources.SnapshotTable.CommitConflict => () }
    }
    import scala.concurrent.duration._
    scala.concurrent.Await.result(
      Future.sequence(Seq(fa, fb, fm, fc.map(_ => 0L))), 300.seconds)
    pool.shutdown()
    val vs = SnapshotTable.versions(spark, root)
    assert(vs == (1L to vs.max).toSeq,
      s"version history must be contiguous, got $vs")
    vs.foreach(v => SnapshotTable.readVersion(spark, root, v).count())
    val fin = SnapshotTable.read(spark, root)
      .collect().map(r => r.getInt(0) -> r.getInt(1))
    assert(fin.length == 1200, s"expected 1200 rows, got ${fin.length}")
    val byKey = fin.toMap
    assert(fin.map(_._1).distinct.length == 1200, "no duplicated keys")
    assert((1 to 100).forall(byKey(_) == 3), "merge generation visible")
    assert((101 to 1000).forall(byKey(_) == 0), "base rows untouched")
    assert((10001 to 10100).forall(byKey(_) == 1) &&
      (20001 to 20100).forall(byKey(_) == 2), "both appends landed")
  }

  test("the bloom index survives maintenance: a merge re-applies the " +
      "table's bloom column to every file it stages, and a lookup key " +
      "outside the table key type's range matches nothing (no ANSI " +
      "cast crash)") {
    val root = tmpRoot()
    val df = (1 to 20000)
      .map(i => (i, (i.toLong * 7919) % 20000, i * 2.0))
      .toDF("k", "u", "x")
    SnapshotTable.commit(spark, root, df,
      clusterKey = Some("k"), bloomKey = Some("u"))
    // COW merge rewrites the file(s) holding keys 1..50: without
    // inheritance those rewritten files would silently lose the index
    SnapshotTable.merge(spark, root,
      (1 to 50).map(i => (i, (i.toLong * 7919) % 20000, -1.0))
        .toDF("k", "u", "x"), "k")
    val cur = SnapshotTable.currentVersion(spark, root)
    val entries = SnapshotTable.manifest(spark, root, cur)
    assert(entries.filter(_.kind == "d")
      .forall(e => e.bloomKey.contains("u") && e.bloom.isDefined),
      "every data file after the merge must carry the inherited bloom")
    val total = entries.size
    val res = SnapshotTable.readKeys(spark, root, "u",
      Seq(42L, 4242L).toDF("u"))
    assert(res.inputFiles.length < total,
      "pruning must still work after the merge")
    // lookup keys wider than the table's int key: 5 billion cannot be
    // an Int — it must simply match nothing (try_cast), not throw
    val wide = SnapshotTable.readKeys(spark, root, "k",
      Seq(5000000000L, 7L).toDF("k"))
    assert(wide.select("k").collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("TIMESTAMP AS OF: readAsOf resolves by commit-record time — a " +
      "wall-clock instant reads exactly what a live reader saw then") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root, Seq((1, "a")).toDF("k", "s"))
    val t1 = SnapshotTable.commitTime(spark, root, 1L)
    Thread.sleep(25) // distinct mtimes: the resolution is millis
    SnapshotTable.append(spark, root, Seq((2, "b")).toDF("k", "s"))
    val t2 = SnapshotTable.commitTime(spark, root, 2L)
    assert(t2 > t1, "commit times must advance")
    assert(SnapshotTable.versionAsOf(spark, root, t1) == 1L)
    assert(SnapshotTable.versionAsOf(spark, root, t2 - 1) == 1L,
      "an instant between commits sees the earlier version")
    assert(SnapshotTable.versionAsOf(spark, root, t2) == 2L)
    assert(SnapshotTable.readAsOf(spark, root, t1).count() == 1L)
    assert(SnapshotTable.readAsOf(spark, root,
      System.currentTimeMillis() + 60000).count() == 2L)
    intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(spark, root, t1 - 60000)
    }
  }

  test("diff over a merge-on-read range is O(delta): it opens the " +
      "added files plus only the from-files that can hold a " +
      "tombstoned key, and still equals the exact bag diff") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i, i * 1.0)).toDF("k", "x"),
      clusterKey = Some("k"))
    val v1Files = SnapshotTable.manifest(spark, root, 1L)
    assert(v1Files.size > 1, "need multiple files to prove pruning")
    // MOR update of a key range living in ONE clustered file
    SnapshotTable.mergeOnRead(spark, root,
      (1 to 50).map(i => (i, -1.0)).toDF("k", "x"), "k")
    val d = SnapshotTable.diff(spark, root, 1L, 2L)
    val ins = d.filter(col("change_type") === "inserted")
      .select("k", "x").collect().map(r => (r.getInt(0), r.getDouble(1)))
    val del = d.filter(col("change_type") === "deleted")
      .select("k", "x").collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(ins.sorted.toSeq == (1 to 50).map(i => (i, -1.0)),
      "inserted leg must be the new row versions")
    assert(del.sorted.toSeq == (1 to 50).map(i => (i, i * 1.0)),
      "deleted leg must be the replaced row versions")
    // the fast path's cost envelope: files the range ADDED, plus at
    // most one from-file (keys 1..50 are co-clustered), never O(table)
    val added = SnapshotTable.manifest(spark, root, 2L).map(_.path)
      .toSet -- v1Files.map(_.path).toSet
    assert(d.inputFiles.length <= added.size + 1,
      s"O(delta) diff opened ${d.inputFiles.length} files " +
        s"(${added.size} added + 1 affected allowed)")
    // and it must agree with the exact bag diff, row for row
    val exactIns = SnapshotTable.readVersion(spark, root, 2L)
      .exceptAll(SnapshotTable.readVersion(spark, root, 1L))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sorted.toSeq
    assert(ins.sorted.toSeq == exactIns)
  }

  test("manifest blooms prune point lookups on a NON-cluster key, and " +
      "files without a bloom are conservatively kept") {
    val root = tmpRoot()
    // u is a permutation of [0, 20000): every file's u-RANGE spans the
    // whole domain (min/max stats on u would prune nothing, and stats
    // are on k anyway) but each file's u-MEMBERSHIP is an eighth of it
    // — exactly the case a per-file membership sketch exists for
    val df = (1 to 20000)
      .map(i => (i, (i.toLong * 7919) % 20000, i * 2.0))
      .toDF("k", "u", "x")
    SnapshotTable.commit(spark, root, df,
      clusterKey = Some("k"), bloomKey = Some("u"))
    val total = SnapshotTable.manifest(spark, root, 1L).size
    assert(total > 1, "table must span multiple files to prove pruning")
    val res = SnapshotTable.readKeys(spark, root, "u",
      Seq(42L, 4242L).toDF("u"))
    assert(res.inputFiles.length < total,
      s"bloom lookup opened ${res.inputFiles.length} of $total files")
    val got = res.select("k", "u").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val want = df.filter(col("u").isin(42L, 4242L))
      .select("k", "u").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(got == want, "pruned lookup must equal the plain filter")
    // an appended batch WITHOUT blooms: its file has no sketch on u,
    // so it must be kept unpruned and its keys must still be found
    SnapshotTable.append(spark, root,
      Seq((999999, 777777L, 1.0)).toDF("k", "u", "x"))
    val r2 = SnapshotTable.readKeys(spark, root, "u",
      Seq(777777L).toDF("u"))
    assert(r2.count() == 1,
      "a bloom-less file must stay visible to keyed lookups")
  }

  test("a clustered materialized view serves point lookups opening " +
      "only the matching files — compute-once, serve-pruned") {
    import graft.sources.MaterializedView
    val src = tmpRoot()
    SnapshotTable.commit(spark, src,
      (1 to 20000).map(i => (i % 4000, i.toDouble)).toDF("k", "x"))
    val iv = MaterializedView.IncrementalView(src, tmpRoot(),
      keys = Seq("k"), sumCols = Seq("x"))
    // view file count is scale-adaptive (bytes / targetFileBytes);
    // a KB-scale fixture view would be one file — shrink the target
    // so the layout spans files and the pruning property is provable
    spark.conf.set("spark.graft.commit.targetFileBytes", "4096")
    try {
      MaterializedView.refreshIncremental(spark, iv) // full, clustered
      SnapshotTable.append(spark, src,
        (1 to 100).map(i => (i, 2.0)).toDF("k", "x"))
      MaterializedView.refreshIncremental(spark, iv) // delta, clustered
    } finally spark.conf.unset("spark.graft.commit.targetFileBytes")
    val cur = SnapshotTable.currentVersion(spark, iv.viewRoot)
    val total = SnapshotTable.manifest(spark, iv.viewRoot, cur).size
    assert(total > 1, "view must span multiple files to prove pruning")
    val res = SnapshotTable.readKeys(spark, iv.viewRoot, "k",
      Seq(7, 8, 9).toDF("k"))
    assert(res.inputFiles.length < total,
      s"serving read ${res.inputFiles.length} of $total view files")
    val ns = res.select("k", "n").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // base: 20000 rows over 4000 groups = 5 each; appended batch adds
    // one row to keys 1..100
    assert(ns == Map(7 -> 6L, 8 -> 6L, 9 -> 6L))
  }

  test("schema evolution is case-insensitive like Spark resolution: a " +
      "re-cased column evolves onto the original, a re-cased type " +
      "change is refused, and tableSchema on an empty table is None") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a")).toDF("id", "name"))
    // same column, different case, same type: must NOT append a
    // duplicate (a dup would poison every later read)
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("ID", "name"))
    val st = SnapshotTable.tableSchema(spark, root).get
    assert(st.fieldNames.count(_.equalsIgnoreCase("id")) == 1,
      s"re-cased column must evolve onto the original, got $st")
    assert(SnapshotTable.read(spark, root).count() == 2)
    // re-cased AND re-typed: refuse the commit
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, Seq(("x", "c")).toDF("ID", "name"))
    }
    assert(SnapshotTable.tableSchema(spark, tmpRoot()).isEmpty,
      "an empty table has no schema, not an exception")
  }

  test("diff across a replacing commit that DROPPED a column keeps the " +
      "dropped column in view — changed rows must not cancel") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    SnapshotTable.commit(spark, root, // replace, column dropped
      Seq((1L, "a"), (2L, "c")).toDF("id", "name"))
    val d = SnapshotTable.diff(spark, root, 1L, 2L)
    assert(d.schema.fieldNames.contains("score"),
      "the union schema must keep the dropped column visible")
    // row 1 changed ONLY in the dropped column — under a to-schema
    // read it would cancel and vanish from the diff
    assert(d.filter(col("change_type") === "inserted").count() == 2)
    assert(d.filter(col("change_type") === "deleted").count() == 2)
  }

  test("readWhere skips files by manifest stats without opening them, " +
      "and matches an unpruned filtered read exactly") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
    SnapshotTable.merge(spark, root, orders, "o_orderkey") // clustered v1
    val entries = SnapshotTable.manifest(spark, root, 1L)
    assert(entries.size > 1, "fixture must span multiple files to prune")
    val (kept, skipped) = SnapshotTable.pruneEntries(spark, root, 1L,
      "o_orderkey", Some("1000"), Some("5000"))
    assert(skipped.nonEmpty,
      "a narrow range over a clustered table must skip files")
    // planning is sound: every skipped file's range provably misses
    skipped.foreach { e =>
      assert(e.lo.get.toLong > 5000L || e.hi.get.toLong < 1000L,
        s"skipped ${e.path} with overlapping range [${e.lo},${e.hi}]")
    }
    val got = SnapshotTable.readWhere(spark, root, "o_orderkey",
      lo = Some("1000"), hi = Some("5000"))
    // the scan only opens kept files
    val opened = got.select(input_file_name()).distinct()
      .as[String].collect().toSet
    val keptPaths = kept.map(e =>
      new org.apache.hadoop.fs.Path(root, e.path).toString).toSet
    assert(opened.forall(p => keptPaths.exists(p.endsWith)),
      s"scan opened a pruned file: ${opened -- keptPaths}")
    assert(opened.size <= kept.size && opened.size < entries.size)
    // and pruning never changes the answer
    val want = SnapshotTable.read(spark, root)
      .filter(col("o_orderkey") >= 1000L && col("o_orderkey") <= 5000L)
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(got.select("o_orderkey").as[Long].collect().sorted.toSeq
      == want)
  }

  test("readKeys opens only the stat-matching files, equals a plain " +
      "IN filter, and honors merge-on-read deletes") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
    SnapshotTable.merge(spark, root, orders, "o_orderkey") // clustered
    val totalFiles = SnapshotTable.manifest(spark, root, 1L).size
    assert(totalFiles > 1)
    // a key set confined to a narrow range must not open every file
    val wanted = orders
      .filter(col("o_orderkey").between(1000L, 1200L))
      .select("o_orderkey")
    val res = SnapshotTable.readKeys(spark, root, "o_orderkey", wanted)
    assert(res.inputFiles.length < totalFiles,
      s"lookup read ${res.inputFiles.length} of $totalFiles files — " +
        "stats pruned nothing")
    val keySet = wanted.as[Long].collect().toSet
    val got = res.select("o_orderkey").as[Long].collect().sorted.toSeq
    val want = SnapshotTable.read(spark, root)
      .filter(col("o_orderkey").isin(keySet.toSeq: _*))
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
    // MOR delete half the keys: the lookup must not resurrect them
    SnapshotTable.deleteKeysOnRead(spark, root,
      wanted.filter(col("o_orderkey") % 2 === 0), "o_orderkey")
    val after = SnapshotTable.readKeys(spark, root, "o_orderkey", wanted)
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(after == want.filter(_ % 2 != 0),
      "deleted keys must stay deleted through the pruned lookup")
  }

  test("readWhere with a range beyond every file returns empty with " +
      "the table schema; MOR tombstones still apply under pruning") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
    SnapshotTable.merge(spark, root, orders, "o_orderkey")
    val none = SnapshotTable.readWhere(spark, root, "o_orderkey",
      lo = Some(Long.MaxValue.toString))
    assert(none.count() == 0L)
    assert(none.schema == SnapshotTable.read(spark, root).schema)
    // MOR: delete keys inside the probed range as a tombstone-only
    // commit, then prove the pruned read still honors the tombstone
    SnapshotTable.deleteKeysOnRead(spark, root,
      orders.filter(col("o_orderkey").between(1000L, 2000L))
        .select("o_orderkey"), "o_orderkey")
    val got = SnapshotTable.readWhere(spark, root, "o_orderkey",
        lo = Some("1000"), hi = Some("5000"))
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    val want = SnapshotTable.read(spark, root)
      .filter(col("o_orderkey") >= 1000L && col("o_orderkey") <= 5000L)
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(got == want && got.forall(k => k > 2000L),
      "pruned MOR read must apply tombstones identically")
  }

  test("mixed-commit diff: identical re-inserts net out of the " +
      "exceptAll pair, changed keys read as delete + insert and new " +
      "keys as inserts only") {
    val root = tmpRoot()
    // nullable key column: a NULL-keyed row rides along untouched
    val base = ((1 to 5000).map(i => (java.lang.Integer.valueOf(i), i * 1.0))
      :+ ((null: java.lang.Integer), 0.5)).toDF("k", "x")
    SnapshotTable.commit(spark, root, base, clusterKey = Some("k"))
    // ONE mixed commit: mergeOnRead re-inserts identical rows for some
    // keys (they must net out through exceptAll) and changes others,
    // while the batch also carries brand-new keys
    val batch = (
      (1 to 40).map(i => (java.lang.Integer.valueOf(i), i * 1.0)) ++  // identical re-insert
      (41 to 80).map(i => (java.lang.Integer.valueOf(i), -1.0)) ++    // changed
      (90001 to 90040).map(i => (java.lang.Integer.valueOf(i), 9.0))  // new keys
    ).toDF("k", "x")
    SnapshotTable.mergeOnRead(spark, root, batch, "k")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (Option(r.get(0)), r.getDouble(1), r.getString(2)))
      .sortBy(_.toString).toSeq
    val changes = rows(SnapshotTable.diff(spark, root, 1L, 2L))
    val ins = changes.filter(_._3 == "inserted")
    val del = changes.filter(_._3 == "deleted")
    assert(ins.count(t => t._1.exists(k => k.asInstanceOf[Int] >= 90001)) == 40)
    assert(!ins.exists(t => t._1.exists(k => { val v = k.asInstanceOf[Int]; v <= 40 })),
      "identical re-inserted rows must net out of the inserted leg")
    assert(del.count(t => t._1.exists(k => { val v = k.asInstanceOf[Int]; v >= 41 && v <= 80 })) == 40)
  }

  test("inline staging honors spark.sql.files.maxRecordsPerFile: a " +
      "partition past the cap rolls to ordered sibling files with " +
      "their own stats, and reads/pruning see the identical table") {
    val root = tmpRoot()
    val df = (1 to 10000).map(i => (i, s"v$i")).toDF("k", "v")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1500")
    try SnapshotTable.commit(spark, root, df,
      clusterKey = Some("k"), files = 2)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val entries = SnapshotTable.manifest(spark, root, 1L)
    assert(entries.size > 2,
      s"2 range partitions over 10000 rows at cap 1500 must roll, " +
        s"got ${entries.size} files")
    assert(entries.forall(_.rows.exists(_ <= 1500L)),
      "every rolled file must respect the cap")
    // manifest order must still be ascending-key order (the rolled
    // "-fNNN" names sort within their partition), so range reads stay
    // in cluster order and every file carries its own [lo, hi]
    val los = entries.flatMap(_.statsFor("k")).map(_._1.toInt)
    assert(los == los.sorted, s"manifest must stay key-ordered: $los")
    val got = SnapshotTable.read(spark, root)
      .select("k").as[Int].collect().sorted.toSeq
    assert(got == (1 to 10000).toSeq)
    val pruned = SnapshotTable.readWhere(spark, root, "k",
      lo = Some("1"), hi = Some("100"))
    assert(pruned.inputFiles.length < entries.size,
      "per-rolled-file stats must prune range reads")
    assert(pruned.count() == 100)
  }

  test("DECIMAL keys: point lookups, MOR merge and diff classify " +
      "collected BigDecimal probes driver-side without a job") {
    val root = tmpRoot()
    val df = spark.range(1, 1001)
      .select((col("id") + lit(0.25)).cast("decimal(12,2)").as("k"),
        concat(lit("v"), col("id")).as("v"))
    SnapshotTable.merge(spark, root, df, "k", files = 4)
    // small key set -> touchedFilesLocal classifies the collected
    // java.math.BigDecimal probes on the driver (the regression:
    // Literal(BigDecimal, DecimalType) fails catalyst validation
    // unless toCatalyst converts to Decimal first)
    val got = SnapshotTable.readKeys(spark, root, "k",
      Seq("7.25", "500.25").toDF("k"))
    assert(got.count() == 2)
    assert(got.select("v").as[String].collect().sorted.toSeq ==
      Seq("v500", "v7"))
    // MOR update whose range overlaps -> tombstone; diff then probes
    // the prior files with the tombstone's collected decimals
    val upd = Seq(("7.25", "v7b")).toDF("k", "v")
      .select(col("k").cast("decimal(12,2)").as("k"), col("v"))
    SnapshotTable.mergeOnRead(spark, root, upd, "k", files = 1)
    val d = SnapshotTable.diff(spark, root, 1L, 2L)
      .select("k", "v", "change_type").as[(java.math.BigDecimal,
        String, String)].collect().toSet
    assert(d == Set(
      (new java.math.BigDecimal("7.25"), "v7b", "inserted"),
      (new java.math.BigDecimal("7.25"), "v7", "deleted")))
    val after = SnapshotTable.readKeys(spark, root, "k",
      Seq("7.25").toDF("k")).select("v").as[String].collect().toSeq
    assert(after == Seq("v7b"))
  }

  test("rolled files past 999 per task: manifest name order stays key " +
      "order across the 999/1000 boundary") {
    val root = tmpRoot()
    val df = (1 to 1002).map(i => (i, s"v$i")).toDF("k", "v")
    // one range partition, one row per file: a single task rolls 1002
    // files, so the suffix crosses from three to four digits
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try SnapshotTable.commit(spark, root, df,
      clusterKey = Some("k"), files = 1)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val entries = SnapshotTable.manifest(spark, root, 1L)
    assert(entries.size == 1002, s"expected 1002 files, got ${entries.size}")
    val byName = entries.sortBy(_.path)
    assert(byName.map(_.path) == entries.map(_.path),
      "manifest order must be file-name order")
    val keys = byName.map(_.statsFor("k").get._1.toInt)
    assert(keys == (1 to 1002),
      s"file-name order must be key order, got ${keys.slice(995, 1005)} " +
        "around the boundary")
  }

  test("mixed-commit diff over a tombstone key spelled 'K' for " +
      "column 'k': 80 inserts and 40 deletes") {
    val root = tmpRoot()
    val base = ((1 to 300).map(i => (java.lang.Integer.valueOf(i), i * 1.0))
      :+ ((null: java.lang.Integer), 0.5)).toDF("k", "x")
    SnapshotTable.commit(spark, root, base, clusterKey = Some("k"))
    // v2: a merge-on-read delete whose key column is spelled "K"
    SnapshotTable.deleteKeysOnRead(spark, root,
      (1 to 80).toDF("K"), "K")
    // v3: identical re-inserts (net out), changed rows and new keys
    SnapshotTable.append(spark, root, (
      (1 to 40).map(i => (java.lang.Integer.valueOf(i), i * 1.0)) ++
      (41 to 80).map(i => (java.lang.Integer.valueOf(i), -1.0)) ++
      (90001 to 90040).map(i => (java.lang.Integer.valueOf(i), 9.0))
    ).toDF("k", "x"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.get(0)), r.getDouble(1), r.getString(2)))
      .sortBy(_.toString).toSeq
    val changes = rows(SnapshotTable.diff(spark, root, 1L, 3L))
    val ins = changes.filter(_._3 == "inserted")
    val del = changes.filter(_._3 == "deleted")
    assert(ins.size == 80 && del.size == 40,
      s"40 changed + 40 new inserts, 40 changed deletes: $changes")
  }

  test("incremental views over copy-on-write merges: the signed file " +
      "delta keeps refreshIncremental and readFresh bit-exact through " +
      "identical replays, changed and NULL sums and NULL group keys; a " +
      "min/max view stays exact on the diff path") {
    import graft.sources.MaterializedView
    import org.apache.spark.sql.DataFrame
    val src = tmpRoot()
    def batch(ids: Seq[Int], g: Int => String,
        x: Int => java.lang.Double): DataFrame =
      ids.map(i => (f"id$i%04d", g(i), x(i))).toDF("id", "g", "x")
    def g0(i: Int): String = if (i % 10 == 0) null else s"g${i % 4}"
    def x0(i: Int): java.lang.Double =
      if (i % 7 == 0) null else java.lang.Double.valueOf(i * 1.25)
    SnapshotTable.merge(spark, src, batch(1 to 300, g0, x0), "id",
      files = 4)
    val sumView = MaterializedView.IncrementalView(src, tmpRoot(),
      Seq("g"), Seq("x"))
    val mmView = MaterializedView.IncrementalView(src, tmpRoot(),
      Seq("g"), Seq("x"), minMaxCols = Seq("x"))
    val freshView = MaterializedView.IncrementalView(src, tmpRoot(),
      Seq("g"), Seq("x"))
    Seq(sumView, mmView, freshView)
      .foreach(MaterializedView.refreshIncremental(spark, _))
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
    def expected(mm: Boolean): Seq[String] = {
      val t = SnapshotTable.read(spark, src)
      val aggs = Seq(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(20,2)")).cast("decimal(20,2)")
          .as("sum_x"),
        count(col("x")).as("cnt_x")) ++
        (if (mm) Seq(min(col("x")).as("min_x"), max(col("x")).as("max_x"))
        else Nil)
      canon(t.groupBy("g").agg(aggs.head, aggs.tail: _*))
    }
    val sumCols = Seq("g", "n", "sum_x", "cnt_x").map(col)
    val mmCols = sumCols ++ Seq(col("min_x"), col("max_x"))

    val observed = new java.util.concurrent.LinkedBlockingQueue[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        qe.observedMetrics.get("graft_mv_delta")
          .foreach(r => observed.put(r.getAs[Long]("delta_rows")))
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val steps: Seq[(String, DataFrame)] = Seq(
      "identical replay" -> batch(1 to 40, g0, x0),
      "changed, NULLed and un-NULLed sums, group moves" ->
        batch(41 to 80,
          i => if (i > 60) (if (i % 2 == 0) null else "g9") else g0(i),
          i => if (i % 2 == 0) null else java.lang.Double.valueOf(-0.5 * i)),
      "replays, new ids, NULL keys and sums" ->
        batch(290 to 330, i => if (i % 3 == 0) null else g0(i),
          i => if (i > 300 && i % 5 == 0) null else x0(i)),
      "NULL sums get values" ->
        batch((100 to 140).filter(_ % 7 == 0), g0,
          _ => java.lang.Double.valueOf(3.5)))
    steps.zipWithIndex.foreach { case ((name, b), i) =>
      val before = SnapshotTable.currentVersion(spark, src)
      SnapshotTable.merge(spark, src, b, "id", files = 4)
      val after = SnapshotTable.currentVersion(spark, src)
      val (pa, pb) = (SnapshotTable.manifest(spark, src, before),
        SnapshotTable.manifest(spark, src, after))
      val removed = pa.filterNot(e => pb.exists(_.path == e.path))
      assert(removed.nonEmpty, s"$name: the merge must rewrite files")
      if (i == 0) {
        // what graft_mv_delta counts on a COW range: the rows of the
        // added files plus the rows of the removed files (the exact
        // diff of an identical replay is empty)
        spark.listenerManager.register(listener)
        try MaterializedView.refreshIncremental(spark, sumView)
        finally {
          val got = observed.poll(30, java.util.concurrent.TimeUnit.SECONDS)
          spark.listenerManager.unregister(listener)
          val added = pb.filterNot(e => pa.exists(_.path == e.path))
          val want = (added ++ removed).map(_.rows.get).sum
          assert(got == want && want > 0,
            s"signed rows consumed: got $got, want $want")
        }
      } else MaterializedView.refreshIncremental(spark, sumView)
      MaterializedView.refreshIncremental(spark, mmView)
      assert(canon(MaterializedView.read(spark, sumView).select(sumCols: _*))
        == expected(mm = false), s"$name: refreshIncremental diverged")
      assert(canon(MaterializedView.read(spark, mmView).select(mmCols: _*))
        == expected(mm = true), s"$name: min/max view diverged")
      // never refreshed since v1: readFresh folds the whole history
      assert(canon(MaterializedView.readFresh(spark, freshView)
        .select(sumCols: _*)) == expected(mm = false),
        s"$name: readFresh diverged")
    }
  }

  test("COW merge with NULL keys in the table and the batch replaces " +
      "exactly the rows of the batch's non-NULL keys, below and above " +
      "the collected-key cap (10000)") {
    Seq(100, 10050).foreach { nKeys =>
      val root = tmpRoot()
      val table = ((0 until nKeys + 200).map(i =>
          (java.lang.Long.valueOf(i.toLong), s"t$i")) ++
        Seq("t-null-a", "t-null-b").map(v => ((null: java.lang.Long), v)))
      SnapshotTable.merge(spark, root, table.toDF("id", "v"), "id",
        files = 4)
      val keys = (100 until 100 + nKeys).map(_.toLong).toSet
      val batch = keys.toSeq.map(i => (java.lang.Long.valueOf(i), s"b$i")) ++
        Seq("b-null-a", "b-null-b").map(v => ((null: java.lang.Long), v))
      SnapshotTable.merge(spark, root, batch.toDF("id", "v"), "id",
        files = 4)
      val got = SnapshotTable.read(spark, root).collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1)))
        .sortBy(_.toString).toSeq
      val want = (table.filter { case (id, _) =>
          id == null || !keys.contains(id.longValue) } ++ batch)
        .map { case (id, v) => (Option(id).map(_.longValue), v) }
        .sortBy(_.toString)
      assert(got == want, s"nKeys=$nKeys: merge result diverged " +
        s"(${got.size} rows vs ${want.size})")
    }
  }
}
