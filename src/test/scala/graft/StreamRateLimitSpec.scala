package graft.sources.connector

import graft.SparkSpec
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._

/** Admission control on the snapshot streaming sources: without it a
  * fresh stream over a 100 TB table reads the WHOLE table as micro-
  * batch #1. `maxFilesPerTrigger` / `maxBytesPerTrigger` /
  * `maxRowsPerTrigger` size each trigger from manifest metadata alone
  * (per-file `bytes` and `rows` are commit-stamped — zero data IO to
  * admit), splitting oversized commits mid-version with `version#index`
  * offsets that old plain-number checkpoints parse right past.
  * Trigger.AvailableNow pins the drain target at prepare time and
  * drains it rate-limited batch by rate-limited batch. */
class StreamRateLimitSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-rl").toString + "/t"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-rl-out").toString

  private def schemaOf(root: String) =
    GraftSnapshotSource.schemaOf(spark, root,
      SnapshotTable.currentVersion(spark, root))

  private def pathsOf(parts: Array[
    org.apache.spark.sql.connector.read.InputPartition]): Seq[String] =
    parts.map(_.asInstanceOf[GraftInputPartition].absolutePath).toSeq

  test("offset JSON: full offsets keep the legacy plain-number form, " +
      "partial offsets round-trip version#index") {
    assert(GraftOffset(5).json() == "5")
    assert(GraftOffset(5, 3).json() == "5#3")
    assert(GraftOffset.parse("5") == GraftOffset(5, -1))
    assert(GraftOffset.parse("5#3") == GraftOffset(5, 3))
    assert(GraftOffset.parse(" 12 ") == GraftOffset(12, -1))
  }

  test("maxFilesPerTrigger splits a large backfill into bounded " +
      "batches that cover every file exactly once, stopping " +
      "mid-version when one commit exceeds the cap") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(4))                                        // v1: 4 files
    SnapshotTable.append(spark, root,
      (41 to 60).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(2))                                        // v2: 2 files
    val stream = new GraftMicroBatchStream(spark, root, schemaOf(root),
      limits = StreamLimits(Some(3), None, None))
    val limit = stream.getDefaultReadLimit

    val o0 = stream.initialOffset().asInstanceOf[GraftOffset]
    assert(o0 == GraftOffset(0))
    val o1 = stream.latestOffset(o0, limit).asInstanceOf[GraftOffset]
    assert(o1 == GraftOffset(1, 3), s"first batch should stop after " +
      s"3 of v1's 4 files, got $o1")
    val b1 = stream.planInputPartitions(o0, o1)
    assert(b1.length == 3)

    val o2 = stream.latestOffset(o1, limit).asInstanceOf[GraftOffset]
    assert(o2 == GraftOffset(2, -1), s"second batch should take v1's " +
      s"remainder plus both v2 files, got $o2")
    val b2 = stream.planInputPartitions(o1, o2)
    assert(b2.length == 3)

    // covered exactly once, and identical to the unthrottled plan
    val full = stream.planInputPartitions(o0, GraftOffset(2))
    assert((pathsOf(b1) ++ pathsOf(b2)).sorted ==
      pathsOf(full).sorted)
    assert(pathsOf(b1).toSet.intersect(pathsOf(b2).toSet).isEmpty)

    // drained: the offset stops moving
    assert(stream.latestOffset(o2, limit) == o2)
  }

  test("maxBytesPerTrigger and maxRowsPerTrigger admit from manifest " +
      "metadata; a single file over the cap still advances (soft max)") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 30).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(3))                                        // v1: 3 files
    val stream = new GraftMicroBatchStream(spark, root, schemaOf(root))
    val o0 = GraftOffset(0)

    // rows: 10 per file; cap 15 → first batch exactly one file
    val byRows = stream.latestOffset(o0,
      org.apache.spark.sql.connector.read.streaming.ReadLimit
        .maxRows(15)).asInstanceOf[GraftOffset]
    assert(byRows == GraftOffset(1, 1), s"got $byRows")

    // bytes: cap 1 byte is below any file — soft max admits one file
    val byBytes = stream.latestOffset(o0,
      org.apache.spark.sql.connector.read.streaming.ReadLimit
        .maxBytes(1L)).asInstanceOf[GraftOffset]
    assert(byBytes == GraftOffset(1, 1), s"got $byBytes")

    // a generous byte cap takes everything
    val all = stream.latestOffset(o0,
      org.apache.spark.sql.connector.read.streaming.ReadLimit
        .maxBytes(1L << 30)).asInstanceOf[GraftOffset]
    assert(all == GraftOffset(1), s"got $all")
  }

  test("prepareForTriggerAvailableNow pins the drain target: commits " +
      "racing in after prepare are not consumed by this run") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"))    // v1
    val stream = new GraftMicroBatchStream(spark, root, schemaOf(root),
      limits = StreamLimits(Some(100), None, None))
    stream.prepareForTriggerAvailableNow()
    SnapshotTable.append(spark, root,
      Seq((99L, "late")).toDF("k", "v"))                        // v2
    val end = stream.latestOffset(GraftOffset(0),
      stream.getDefaultReadLimit).asInstanceOf[GraftOffset]
    assert(end == GraftOffset(1), s"AvailableNow must stop at the " +
      s"prepare-time tip, got $end")
    // but the true tip is still reported
    assert(stream.reportLatestOffset() == GraftOffset(2))
  }

  test("the changelog stream honors limits at VERSION granularity: a " +
      "cap that would split a MOR commit rounds UP to the version " +
      "boundary — whole versions per batch, every file exactly once") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(2))                                        // v1: 2 files
    SnapshotTable.mergeOnRead(spark, root,
      (1 to 5).map(i => (i.toLong, "upd")).toDF("k", "v"), "k") // v2: +data +tomb
    val cdc = GraftSnapshotSource.withCdcColumns(schemaOf(root))
    val stream = new GraftChangesMicroBatchStream(spark, root, cdc,
      limits = StreamLimits(Some(1), None, None))
    val limit = stream.getDefaultReadLimit
    var o = stream.initialOffset().asInstanceOf[GraftOffset]
    var batches = 0
    var paths = Seq.empty[String]
    while ({
      val n = stream.latestOffset(o, limit).asInstanceOf[GraftOffset]
      val advanced = n != o
      if (advanced) {
        // a change batch's END offset is always a whole version: a
        // split version's tail would be silently dropped by any
        // version-granular exactly-once consumer (cdcFeedRetract)
        assert(n.index < 0,
          s"changelog emitted a partial-version offset $n")
        // ...and each batch carries exactly ONE whole version (the
        // cap still throttles across versions)
        val parts = stream.planInputPartitions(o, n)
        assert(n.version == o.version + 1,
          s"expected one version per capped batch, got $o -> $n")
        paths ++= pathsOf(parts)
        batches += 1; o = n
      }
      advanced && batches < 20
    }) ()
    // v1 whole (2 data files), then v2 whole (replacement data +
    // tombstone) — two version-granular batches, all files once
    assert(batches == 2, s"expected 2 whole-version batches, got $batches")
    val full = pathsOf(stream.planInputPartitions(GraftOffset(0), o))
    assert(paths.sorted == full.sorted)
  }

  test("minRowsPerTrigger coalesces a trickle: the trigger holds " +
      "until enough rows accumulate or maxTriggerDelay lapses, and " +
      "AvailableNow drains ignore the gate") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1))                                           // v1: 10 rows
    val held = new GraftMicroBatchStream(spark, root, schemaOf(root),
      limits = StreamLimits(None, None, None,
        minRows = Some(25), maxDelayMs = Some(3600000L)))
    val hl = held.getDefaultReadLimit
    val o0 = held.initialOffset().asInstanceOf[GraftOffset]
    assert(held.latestOffset(o0, hl) == o0,
      "10 pending rows under min=25 must hold the trigger")
    SnapshotTable.append(spark, root,
      (11 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1))                                           // v2: 20 total
    assert(held.latestOffset(o0, hl) == o0,
      "20 pending rows under min=25 must still hold")
    SnapshotTable.append(spark, root,
      (21 to 30).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1))                                           // v3: 30 total
    assert(held.latestOffset(o0, hl) ==
      GraftOffset(3), "30 pending rows >= min=25 must release")

    // a lapsed delay releases whatever is pending, however small
    val impatient = new GraftMicroBatchStream(spark, root, schemaOf(root),
      limits = StreamLimits(None, None, None,
        minRows = Some(1000000), maxDelayMs = Some(0L)))
    assert(impatient.latestOffset(o0, impatient.getDefaultReadLimit)
      == GraftOffset(3), "maxTriggerDelay=0 must fire immediately")

    // min composes with max: once released, the batch is still capped
    val both = new GraftMicroBatchStream(spark, root, schemaOf(root),
      limits = StreamLimits(Some(2), None, None,
        minRows = Some(25), maxDelayMs = Some(3600000L)))
    val bo = both.latestOffset(o0, both.getDefaultReadLimit)
      .asInstanceOf[GraftOffset]
    assert(bo == GraftOffset(2),
      s"released batch must still honor maxFilesPerTrigger=2, got $bo")

    // AvailableNow: the gate never wedges a drain
    val drain = new GraftMicroBatchStream(spark, root, schemaOf(root),
      limits = StreamLimits(None, None, None,
        minRows = Some(1000000), maxDelayMs = Some(3600000L)))
    drain.prepareForTriggerAvailableNow()
    assert(drain.latestOffset(o0, drain.getDefaultReadLimit)
      == GraftOffset(3), "AvailableNow must ignore minRows")
  }

  test("end-to-end: a rate-limited AvailableNow run drains the " +
      "backfill across multiple micro-batches with exact content") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(5))                                        // v1: 5 files
    SnapshotTable.append(spark, root,
      (51 to 70).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(2))                                        // v2: 2 files
    val outDir = tmpDir()
    val q = spark.readStream.format("graft-snapshot")
      .option("path", root)
      .option("maxFilesPerTrigger", "2")
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", tmpDir())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val progressed = q.recentProgress.filter(_.numInputRows > 0)
      assert(progressed.length >= 3,
        s"7 files at 2/trigger must take >=3 batches, got " +
          s"${progressed.map(p => p.batchId -> p.numInputRows).toSeq}")
      // no batch may carry more rows than the two largest files
      // (round-robin repartition makes file sizes slightly uneven)
      val fileRows = spark.read
        .option("recursiveFileLookup", "true").parquet(s"$root/_data")
        .withColumn("f", input_file_name())
        .groupBy("f").count().as[(String, Long)].collect()
        .map(_._2).sorted.reverse
      val twoLargest = fileRows.take(2).sum
      assert(progressed.forall(_.numInputRows <= twoLargest),
        s"a batch exceeded 2 files' worth of rows " +
          s"(cap $twoLargest): " +
          s"${progressed.map(p => p.batchId -> p.numInputRows).toSeq}")
      val got = spark.read.parquet(outDir).select("k", "v")
        .as[(Long, String)].collect().sorted.toSeq
      assert(got == (1 to 70).map(i => (i.toLong, s"v$i")),
        s"rate-limited drain lost or duplicated rows (got ${got.size})")
    } finally q.stop()
  }

  test("preImages changelog under admission control: a capped " +
      "AvailableNow drain delivers every insert AND every full-row " +
      "delete event exactly once, batches bounded by the cap") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 60).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(3), clusterKey = Some("k"))                // v1: 3 files
    SnapshotTable.mergeOnRead(spark, root,
      (1 to 8).map(i => (i.toLong, "upd")).toDF("k", "v"), "k") // v2
    SnapshotTable.mergeOnRead(spark, root,
      (4 to 6).map(i => (i.toLong, "upd2")).toDF("k", "v"), "k") // v3
    val outDir = tmpDir()
    val q = spark.readStream.format("graft-snapshot")
      .option("path", root).option("changes", "true")
      .option("preImages", "true")
      .option("maxFilesPerTrigger", "1")
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", tmpDir())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val progressed = q.recentProgress.filter(_.numInputRows > 0)
      assert(progressed.length >= 3,
        s"1-file batches must split the drain, got " +
          s"${progressed.map(p => p.batchId -> p.numInputRows).toSeq}")
      val ev = spark.read.parquet(outDir)
        .select(col("k"), col("v"), col("_change_type"),
          col("_commit_version"))
        .as[(Long, String, String, Long)].collect().toSeq
      // exactly the unthrottled event set: 60 + 8 + 3 inserts; v2
      // pre-images the originals, v3 pre-images v2's replacements
      assert(ev.count(_._3 == "insert") == 71,
        s"inserts: ${ev.count(_._3 == "insert")}")
      val d2 = ev.filter(e => e._3 == "delete" && e._4 == 2L).sorted
      assert(d2 == (1L to 8L).map(i => (i, s"v$i", "delete", 2L)),
        s"v2 deletes: $d2")
      val d3 = ev.filter(e => e._3 == "delete" && e._4 == 3L).sorted
      assert(d3 == (4L to 6L).map(i => (i, "upd", "delete", 3L)),
        s"v3 deletes: $d3")
      assert(ev.size == 71 + 8 + 3, s"duplicated events: ${ev.size}")
    } finally q.stop()
  }
}
