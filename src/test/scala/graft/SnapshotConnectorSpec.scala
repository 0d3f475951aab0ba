package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** DataSource V2 connector over SnapshotTable
  * (sources/connector/GraftSnapshotSource): the snapshot layer inside
  * Catalyst planning — format("graft-snapshot") reads, filter
  * pushdown shown as PushedFilters, manifest file pruning driven by
  * the pushed predicates, projection pushed to the parquet reader,
  * time travel via options, and the stated v1 refusals. */
class SnapshotConnectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-dsv2").toString + "/t"

  private def readFmt(root: String) =
    spark.read.format("graft-snapshot").option("path", root)

  test("a connector read equals the native snapshot read, row for " +
      "row, including strings, doubles and timestamps") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
    SnapshotTable.commit(spark, root, orders,
      clusterKey = Some("o_orderkey"))
    val got = readFmt(root).load()
    assert(got.schema.fieldNames.toSeq ==
      orders.schema.fieldNames.toSeq)
    val a = got.orderBy("o_orderkey").collect().map(_.toSeq)
    val b = SnapshotTable.read(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall(p => p._1 == p._2),
      "connector rows must equal the native read")
  }

  test("nested columns read through the connector: the embeddings " +
      "table's array<float> vectors round-trip row for row, and " +
      "nested-typed tables still prune on their atomic cluster key") {
    val root = tmpRoot()
    val emb = Tables.load(spark, sfDir, "embeddings")
    SnapshotTable.commit(spark, root, emb, clusterKey = Some("vec_id"))
    val got = readFmt(root).load()
    val a = got.orderBy("vec_id").collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Float](r.fieldIndex("embedding")).toVector))
    val b = SnapshotTable.read(spark, root).orderBy("vec_id").collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Float](r.fieldIndex("embedding")).toVector))
    assert(a.length == b.length && a.sameElements(b),
      "array<float> vectors must round-trip exactly")
    // stats pruning is untouched by nested payload columns
    val q = readFmt(root).load().filter(col("vec_id") < 50)
    val plan = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"nested table lost its cluster-key pruning:\n$plan")
    assert(q.count() == SnapshotTable.read(spark, root)
      .filter(col("vec_id") < 50).count())
  }

  test("struct / map / binary columns: a multimodal-shaped table " +
      "(binary payload + struct metadata + tag map) serves through " +
      "the connector, including a nested-field projection") {
    val root = tmpRoot()
    val df = (1 to 500).map { i =>
      (i.toLong, Array.fill(16)((i % 251).toByte),
        (s"img_$i", i % 7, i * 1.5),
        Map(s"k${i % 3}" -> s"v$i"))
    }.toDF("id", "payload", "meta", "tags")
      .withColumn("meta", col("meta").cast(
        "struct<name:string,channel:int,score:double>"))
    SnapshotTable.commit(spark, root, df, clusterKey = Some("id"))
    val got = readFmt(root).load().orderBy("id").collect()
    assert(got.length == 500)
    val r42 = got(41)
    assert(r42.getAs[Array[Byte]]("payload").toSeq ==
      Array.fill(16)((42 % 251).toByte).toSeq, "binary payload")
    val meta = r42.getAs[org.apache.spark.sql.Row]("meta")
    assert(meta.getString(0) == "img_42" && meta.getInt(1) == 0 &&
      meta.getDouble(2) == 63.0, s"struct metadata: $meta")
    assert(r42.getAs[Map[String, String]]("tags") == Map("k0" -> "v42"),
      "map column")
    // nested-field projection resolves through the connector
    val names = readFmt(root).load().select(col("meta.name"))
      .orderBy(col("meta.name")).limit(3).as[String].collect()
    assert(names.sameElements(Array("img_1", "img_10", "img_100")),
      names.mkString(","))
  }

  test("pushed range filters prune manifest files inside planning: " +
      "the scan description reports fewer files than the table holds " +
      "and PushedFilters appears in explain") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, i * 2.0)).toDF("k", "x"),
      clusterKey = Some("k"))
    val total = SnapshotTable.manifest(spark, root, 1L).size
    assert(total > 1)
    val q = readFmt(root).load().filter(col("k") >= 1000 && col("k") <= 2000)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), s"pushdown missing:\n$plan")
    val desc = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(desc.isDefined, s"scan description missing file counts:\n$plan")
    assert(desc.get.group(1).toInt < desc.get.group(2).toInt,
      s"no files pruned: ${desc.get.matched}")
    // residual evaluation stays with Spark: exact rows survive
    assert(q.count() == 1001)
    assert(q.agg(sum("x")).collect()(0).getDouble(0) ==
      (1000 to 2000).map(_ * 2.0).sum)
  }

  test("equality pushdown probes the per-file blooms on a secondary " +
      "column; projection prunes to the requested columns") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i, (i.toLong * 7919) % 20000, i * 2.0))
        .toDF("k", "u", "x"),
      clusterKey = Some("k"), bloomKey = Some("u"))
    val total = SnapshotTable.manifest(spark, root, 1L).size
    val q = readFmt(root).load().filter(col("u") === 42L).select("k", "u")
    val plan = q.queryExecution.executedPlan.toString
    val desc = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(desc.group(1).toInt < total,
      s"bloom pushdown pruned nothing: ${desc.matched}")
    assert(plan.contains("columns=k,u"),
      s"projection must reach the reader:\n$plan")
    val rows = q.collect()
    assert(rows.length == 1 && rows(0).getLong(1) == 42L)
  }

  test("time travel options: versionAsOf reads the pinned snapshot, " +
      "timestampAsOf resolves through commit times") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "s"))
    val t1 = SnapshotTable.commitTime(spark, root, 1L)
    Thread.sleep(25)
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("k", "s"))
    assert(readFmt(root).option("versionAsOf", "1").load().count() == 1)
    assert(readFmt(root).load().count() == 2)
    assert(readFmt(root).option("timestampAsOf", t1.toString)
      .load().count() == 1)
  }

  test("schema evolution: a file that predates a column serves NULL " +
      "for it through the connector, like the native read") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "s"))
    SnapshotTable.append(spark, root,
      Seq((2L, "b", 9.5)).toDF("k", "s", "score"))
    val rows = readFmt(root).load().orderBy("k")
      .select("k", "score").collect()
    assert(rows(0).isNullAt(1), "pre-evolution row must read NULL")
    assert(rows(1).getDouble(1) == 9.5)
  }

  test("reported statistics make a small snapshot broadcastable: the " +
      "planner picks a broadcast join with the connector scan on the " +
      "build side (no stats would mean 'huge' and force a shuffle)") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root, Tables.load(spark, sfDir, "nation"))
    val dim = readFmt(root).load()
    val joined = Tables.load(spark, sfDir, "customer")
      .join(dim, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"25-row snapshot dim must broadcast:\n$plan")
    assert("BroadcastExchange[\\s\\S]*?graft_snapshot".r
      .findFirstIn(plan).isDefined,
      s"the connector scan must sit under the broadcast:\n$plan")
    assert(joined.count() == 25)
  }

  test("runtime (join-driven) filtering: the scan exposes its " +
      "prunable columns and narrows its file set when handed a key " +
      "set at execution time") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, i * 2.0)).toDF("k", "x"),
      clusterKey = Some("k"))
    val total = SnapshotTable.manifest(spark, root, 1L).size
    val fact = readFmt(root).load()
    // the dim side carries a selective filter — the planner may hand
    // its keys to the scan as runtime IN filters (v2 dynamic pruning)
    val dim = (1 to 20000).map(i => (i.toLong, i % 97))
      .toDF("dk", "grp").filter(col("grp") === 7)
      .select(col("dk").as("k"))
    val joined = fact.join(dim, "k")
    // correctness first: runtime narrowing must never change rows
    assert(joined.count() == dim.count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("graft-snapshot v1"),
      s"connector scan missing:\n$plan")
    // the capability is wired: the scan names its filterable columns
    // (planner heuristics decide per-query whether to use them)
    val scan = new graft.sources.connector.GraftScanBuilder(
      root, 1L, fact.schema)
    val built = scan.build()
      .asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsRuntimeFiltering]
    assert(built.filterAttributes().map(_.toString).contains("k"))
    val before = built.asInstanceOf[
      org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    assert(before == total)
    built.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(5L, 6L, 7L))))
    val after = built.asInstanceOf[
      org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    assert(after < before,
      s"runtime IN filter pruned nothing ($after of $before)")
  }

  test("row-group pruning inside kept files: with tiny row groups, a " +
      "pushed range predicate skips whole groups before page IO (the " +
      "reader returns far fewer rows with record-level filtering " +
      "off), and the end-to-end result is unchanged") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmpRoot()
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    // tiny row groups so one file carries many; sorted by k, so the
    // groups have disjoint k ranges and a band filter can skip most
    hc.setInt("parquet.block.size", 64 * 1024)
    try {
      SnapshotTable.commit(spark, root,
        (1 to 200000).map(i => (i.toLong, s"pad_pad_pad_pad_$i"))
          .toDF("k", "v"),
        clusterKey = Some("k"))
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val entries = SnapshotTable.manifest(spark, root, 1L)
      .filter(_.kind == "d")
    val big = entries.maxBy(_.rows.getOrElse(0L))
    val (lo, hi) = (big.lo.get.toLong, big.hi.get.toLong)
    assert(big.rows.exists(_ > 10000), s"fixture file too small: $big")
    val bandHi = lo + (hi - lo) / 20
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val abs = new org.apache.hadoop.fs.Path(root, big.path).toString
    // the pushed predicate rides the vectorized reader's parquet
    // options; rows are counted per returned batch, so every row seen
    // comes from a KEPT row group: far fewer rows == whole groups
    // skipped
    def rowsSeen(
        filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val r = new graft.sources.connector.GraftColumnarReader(
        abs, schema, "UTC", spark.sessionState.newHadoopConf(),
        pushed = filters)
      try {
        var n = 0L; while (r.next()) n += r.get().numRows(); n
      } finally r.close()
    }
    val all = rowsSeen(Array.empty)
    assert(all == big.rows.get)
    val band = rowsSeen(Array(GreaterThanOrEqual("k", lo),
      LessThanOrEqual("k", bandHi)))
    assert(band < all / 4,
      s"row groups not skipped: saw $band of $all rows for a 1/20 band")
    assert(band >= bandHi - lo + 1,
      "a kept row group can only ADD rows, never lose matches")
    // end-to-end: the same band through the connector equals native
    val viaConnector = readFmt(root).load()
      .filter(col("k") >= lo && col("k") <= bandHi).count()
    assert(viaConnector == bandHi - lo + 1)
  }

  test("row-group pruning on DECIMAL columns: a band predicate over " +
      "an INT64-backed decimal compares UNSCALED values at the " +
      "file's scale and skips whole groups; a finer-scaled literal " +
      "drops out (prunes less, never wrong)") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual,
      LessThanOrEqual}
    import org.apache.spark.sql.types.{DecimalType, LongType,
      StructField, StructType}
    val root = tmpRoot()
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try {
      SnapshotTable.commit(spark, root,
        (1 to 200000).map(i => (i.toLong, s"$i.25"))
          .toDF("k", "s")
          .select(col("k"),
            col("s").cast("decimal(12,2)").as("price"),
            concat(lit("pad_pad_pad_"), col("k")).as("pad")),
        clusterKey = Some("price"))
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val entries = SnapshotTable.manifest(spark, root, 1L)
      .filter(_.kind == "d")
    val big = entries.maxBy(_.rows.getOrElse(0L))
    assert(big.rows.exists(_ > 10000), s"fixture file too small: $big")
    val abs = new org.apache.hadoop.fs.Path(root, big.path).toString
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("price", DecimalType(12, 2))))
    def rowsSeen(
        filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val r = new graft.sources.connector.GraftColumnarReader(
        abs, schema, "UTC", spark.sessionState.newHadoopConf(),
        pushed = filters)
      try {
        var n = 0L; while (r.next()) n += r.get().numRows(); n
      } finally r.close()
    }
    val all = rowsSeen(Array.empty)
    assert(all == big.rows.get)
    val (dlo, dhi) = (BigDecimal(big.statsFor("price").get._1),
      BigDecimal(big.statsFor("price").get._2))
    val bandHi = (dlo + (dhi - dlo) / 20).setScale(2,
      BigDecimal.RoundingMode.DOWN)
    val band = rowsSeen(Array(
      GreaterThanOrEqual("price", dlo.bigDecimal),
      LessThanOrEqual("price", bandHi.bigDecimal)))
    assert(band < all / 4,
      s"decimal row groups not skipped: saw $band of $all")
    // every match survives: kept groups can only ADD rows
    val matches = spark.read.parquet(abs)
      .filter(col("price").geq(dlo.bigDecimal) &&
        col("price").leq(bandHi.bigDecimal)).count()
    assert(band >= matches, s"band=$band matches=$matches")
    // a literal the file's scale cannot represent exactly refuses to
    // translate: full scan, never a wrong skip
    val finer = rowsSeen(Array(GreaterThanOrEqual("price",
      new java.math.BigDecimal("100.005"))))
    assert(finer == all,
      s"finer-scaled literal must drop out of the conjunction: $finer")
    // end-to-end: the same band through the connector equals native
    val viaConnector = readFmt(root).load()
      .filter(col("price").geq(dlo.bigDecimal) &&
        col("price").leq(bandHi.bigDecimal)).count()
    val native = SnapshotTable.read(spark, root)
      .filter(col("price").geq(dlo.bigDecimal) &&
        col("price").leq(bandHi.bigDecimal)).count()
    assert(viaConnector == native && viaConnector == matches)
  }

  test("complete aggregate pushdown: ungrouped COUNT(*)/MIN/MAX " +
      "answer from the manifest alone — still correct after the data " +
      "directory is moved away, proving zero data IO") {
    val root = tmpRoot()
    val df = (1 to 20000).map(i => (i.toLong, s"s$i", i * 0.5))
      .toDF("k", "s", "x")
    SnapshotTable.commit(spark, root, df, clusterKey = Some("k"))
    val agg = readFmt(root).load()
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("manifest-only"),
      s"aggregate not pushed to the manifest scan:\n$plan")
    val r = agg.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((20000L, 1L, 20000L)), r.toString)
    // the proof: physically relocate the data; the manifest answer
    // survives, a row-reading query cannot
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(f.rename(new org.apache.hadoop.fs.Path(root, "_data"),
      new org.apache.hadoop.fs.Path(root, "_data_gone")))
    val r2 = readFmt(root).load()
      .agg(count(lit(1)), min(col("k")), max(col("k"))).collect()(0)
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) ==
      ((20000L, 1L, 20000L)), "manifest-only answer must not touch data")
    intercept[Exception] {
      readFmt(root).load().select("k").collect()
    }
  }

  test("plan-time sizing is MANIFEST-ONLY: sizeInBytes comes from " +
      "the byte lengths stamped at commit — the plan is still costed " +
      "exactly after the data directory is moved away, proving zero " +
      "per-file status RPCs at plan time") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, s"s$i", i * 0.5))
        .toDF("k", "s", "x"),
      clusterKey = Some("k"))
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val entries = SnapshotTable.manifest(spark, root,
      SnapshotTable.currentVersion(spark, root))
    entries.foreach(e => assert(e.bytes.contains(f.getFileStatus(
      new org.apache.hadoop.fs.Path(root, e.path)).getLen),
      s"commit did not stamp bytes for ${e.path}"))
    val expected = BigInt(entries.map(_.bytes.get).sum)
    // the proof: physically relocate the data; the optimizer's cost
    // for the scan must still be the recorded sizes — a getFileStatus
    // fallback would see nothing and report 0
    assert(f.rename(new org.apache.hadoop.fs.Path(root, "_data"),
      new org.apache.hadoop.fs.Path(root, "_data_elsewhere")))
    val stats = readFmt(root).load()
      .queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == expected,
      s"plan costed ${stats.sizeInBytes}, manifest says $expected")
    assert(stats.rowCount.contains(BigInt(20000)),
      s"manifest row count must survive too: ${stats.rowCount}")
  }

  test("aggregate pushdown declines exactly when the manifest cannot " +
      "answer: merge-on-read tombstones, grouped aggregates and " +
      "filtered counts all take the row-reading path and stay correct") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 500).map(i => (i.toLong, i % 7)).toDF("k", "g"),
      clusterKey = Some("k"))
    // a MOR delete: count must now read tombstones, not the manifest
    SnapshotTable.deleteKeysOnRead(spark, root,
      Seq(1L, 2L, 3L).toDF("k"), "k")
    val cnt = readFmt(root).load().agg(count(lit(1)))
    assert(!cnt.queryExecution.executedPlan.toString
      .contains("manifest-only"), "MOR count must not push")
    assert(cnt.collect()(0).getLong(0) == 497L)
    // grouped: declines, stays correct
    val grouped = readFmt(root).load().groupBy("g").agg(count(lit(1)))
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("manifest-only"))
    assert(grouped.collect().map(_.getLong(1)).sum == 497L)
    // filtered: declines (filters stay residual), stays correct
    val filtered = readFmt(root).load().filter(col("k") <= 100)
      .agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("manifest-only"))
    assert(filtered.collect()(0).getLong(0) == 97L)
  }

  test("the snapshot table is a STREAMING SOURCE: the first batch " +
      "serves the whole table, each append then streams exactly the " +
      "files that commit added; a checkpointed restart resumes from " +
      "the consumed version; a compaction in range fails loudly") {
    val root = tmpRoot()
    val cp = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-sout")
      .toString
    SnapshotTable.commit(spark, root,
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      clusterKey = Some("k"))
    def startStream() = spark.readStream.format("graft-snapshot")
      .option("path", root).load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", cp).start()
    def sunk(): Seq[Long] = spark.read.parquet(outDir)
      .select("k").as[Long].collect().sorted.toSeq
    val q = startStream()
    try {
      q.processAllAvailable()
      assert(sunk() == (1L to 100L), "first batch = the whole table")
      SnapshotTable.append(spark, root,
        (101 to 150).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
      q.processAllAvailable()
      assert(sunk() == (1L to 150L), "each append must stream exactly once")
    } finally q.stop()
    // restart on the SAME checkpoint: only post-checkpoint commits
    // flow, nothing re-emits (the file sink is exactly-once)
    SnapshotTable.append(spark, root,
      (151 to 160).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    val q2 = startStream()
    try {
      q2.processAllAvailable()
      assert(sunk() == (1L to 160L),
        "restart must resume from the consumed version, no replay")
      // a non-accretive range (compaction rewrites files) must fail
      // loudly, never silently re-emit rewritten rows
      SnapshotTable.compact(spark, root, targetBytes = 1L << 30)
      SnapshotTable.append(spark, root,
        Seq((161L, "v161")).toDF("k", "v"))
      val failed = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(failed.getMessage.contains("accretive") ||
        Option(failed.getCause).exists(_.getMessage != null &&
          failed.getCause.getMessage.contains("accretive")),
        s"expected the accretive-range refusal, got: $failed")
    } finally q2.stop()
  }

  test("startingVersion option: a fresh stream can begin at a pinned " +
      "commit ('N' = that commit's changes first) or at 'latest' " +
      "(only post-start commits); bad values are refused") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      clusterKey = Some("k"))                                  // v1
    SnapshotTable.append(spark, root,
      (51 to 80).map(i => (i.toLong, s"v$i")).toDF("k", "v"))  // v2
    SnapshotTable.append(spark, root,
      (81 to 90).map(i => (i.toLong, s"v$i")).toDF("k", "v"))  // v3

    def run(opts: Map[String, String]): Seq[Long] = {
      val cp = java.nio.file.Files
        .createTempDirectory("graft-cp-sv").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft-sout-sv").toString
      var r = spark.readStream.format("graft-snapshot")
        .option("path", root)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
      try spark.read.parquet(out).select("k").as[Long]
        .collect().sorted.toSeq
      catch { case _: org.apache.spark.sql.AnalysisException =>
        Seq.empty }
    }
    // numeric pin: version 2's changes are the first batch
    assert(run(Map("startingVersion" -> "2")) == (51L to 90L))
    // 'latest': nothing historical flows
    assert(run(Map("startingVersion" -> "latest")).isEmpty)
    // refusals
    val bad = intercept[Exception](
      run(Map("startingVersion" -> "nope")))
    assert(bad.getMessage.contains("startingVersion") ||
      Option(bad.getCause).exists(c => c.getMessage != null &&
        c.getMessage.contains("startingVersion")), bad.getMessage)
  }

  test("merge-on-read through the connector: tombstoned rows vanish, " +
      "the MOR batch's own replacements survive, deletes apply, and " +
      "the result equals the native read — projected key or not") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 10000).map(i => (i.toLong, i * 1.0, s"t$i"))
        .toDF("k", "x", "tag"),
      clusterKey = Some("k"))
    // MOR upsert: replaces keys 1..100 (tombstone seq 2 kills the seq-1
    // copies; the batch's own seq-2 rows survive the same tombstone)
    SnapshotTable.mergeOnRead(spark, root,
      (1 to 100).map(i => (i.toLong, -i * 1.0, s"u$i"))
        .toDF("k", "x", "tag"), "k")
    // MOR delete: keys 9001..10000 disappear entirely
    SnapshotTable.deleteKeysOnRead(spark, root,
      (9001 to 10000).map(_.toLong).toDF("k"), "k")

    val native = SnapshotTable.read(spark, root)
      .orderBy("k").collect().map(_.toSeq)
    val viaConnector = readFmt(root).load()
      .orderBy("k").collect().map(_.toSeq)
    assert(viaConnector.length == native.length)
    assert(viaConnector.length == 9000)
    viaConnector.zip(native).foreach { case (a, b) =>
      assert(a == b, s"MOR mismatch: $a vs $b")
    }
    // replaced keys carry the update's values through the connector
    val one = readFmt(root).load().filter(col("k") === 50).collect()
    assert(one.length == 1 && one(0).getDouble(1) == -50.0)
    // deleted rows stay deleted when the key is NOT projected (read
    // as a hidden field) ...
    assert(readFmt(root).load().select("tag").count() == 9000)
    // ... and the aggregate over an unprojected-key read matches
    assert(readFmt(root).load().select("x")
      .agg(sum("x")).collect()(0).getDouble(0) ==
      native.map(_(1).asInstanceOf[Double]).sum)
    // a BINARY key: kill sets and probes must compare key BYTES (a
    // byte[] member compares by identity and would kill nothing)
    val binRoot = tmpRoot()
    SnapshotTable.commit(spark, binRoot,
      (1 to 100).map(i => (s"b$i".getBytes("UTF-8"), i.toLong))
        .toDF("bk", "v"))
    SnapshotTable.deleteKeysOnRead(spark, binRoot,
      Seq("b7", "b42").map(_.getBytes("UTF-8")).toDF("bk"), "bk")
    def binRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (new String(r.getAs[Array[Byte]]("bk"),
        "UTF-8"), r.getAs[Long]("v"))).sortBy(_._2).toSeq
    val nativeBin = binRows(SnapshotTable.read(spark, binRoot))
    assert(nativeBin.length == 98)
    assert(binRows(readFmt(binRoot).load()) == nativeBin)
  }

  test("merge-on-read with a STRING key and more tombstone keys than " +
      "one columnar batch holds: every deleted key stays deleted " +
      "through the connector and the preImages changelog") {
    // 5000 unique keys in one tombstone file: PLAIN-encoded, so the
    // kill set must outlive the batch buffers it was decoded from
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 10000).map(i => (s"s$i", i.toLong)).toDF("sk", "v"))
    SnapshotTable.deleteKeysOnRead(spark, root,
      (2 to 10000 by 2).map(i => s"s$i").toDF("sk"), "sk")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.as[(String, Long)].collect().sortBy(_._2).toSeq
    val native = rows(SnapshotTable.read(spark, root))
    assert(native.length == 5000)
    assert(rows(readFmt(root).load()) == native)
    // the changelog's pre-images select the deleted rows by the same
    // kind of key set
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-conn-out").toString
    val q = spark.readStream.format("graft-snapshot")
      .option("path", root).option("changes", "true")
      .option("preImages", "true").load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-conn-cp").toString).start()
    try q.processAllAvailable() finally q.stop()
    val dels = spark.read.parquet(outDir)
      .filter(col("_change_type") === "delete")
      .select("sk", "v").as[(String, Long)].collect().sortBy(_._2).toSeq
    assert(dels == (2 to 10000 by 2).map(i => (s"s$i", i.toLong)))
  }

  test("MOR read still prunes: a range predicate skips data files " +
      "and the tombstone filter cannot resurrect or over-delete " +
      "within the kept band") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, i * 2.0)).toDF("k", "x"),
      clusterKey = Some("k"))
    SnapshotTable.deleteKeysOnRead(spark, root,
      Seq(1500L, 1600L, 50L).toDF("k"), "k")
    val q = readFmt(root).load()
      .filter(col("k") >= 1000 && col("k") <= 2000)
    val plan = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"MOR scan must still prune data files: $plan")
    assert(plan.contains("tombstones=1"), s"tombstone count:\n$plan")
    // 1001 band rows minus the two deleted INSIDE the band
    assert(q.count() == 999)
  }

  test("after compact the connector serves the merged state with " +
      "zero tombstones attached") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 100).map(i => (i, i * 1.0)).toDF("k", "x"),
      clusterKey = Some("k"))
    SnapshotTable.mergeOnRead(spark, root,
      Seq((1, -1.0)).toDF("k", "x"), "k")
    SnapshotTable.compact(spark, root, clusterKey = Some("k"))
    val df = readFmt(root).load()
    assert(!df.queryExecution.executedPlan.toString
      .contains("tombstones="))
    val got = df.filter(col("k") === 1).collect()
    assert(got.length == 1 && got(0).getDouble(1) == -1.0)
  }

  test("LIMIT pushdown plans a file-count prefix: manifest row " +
      "counts answer LIMIT n from the fewest files that cover it") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, i * 2.0)).toDF("k", "x"),
      clusterKey = Some("k"), files = 8)
    val q = readFmt(root).load().limit(5)
    val plan = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(m.group(1).toInt == 1 && m.group(2).toInt == 8,
      s"LIMIT 5 must plan exactly one file:\n$plan")
    assert(plan.contains("PushedLimit: LIMIT 5"), plan)
    assert(q.count() == 5)
  }

  test("top-N pushdown keeps only head-ward files on the cluster " +
      "key, ASC and DESC, and the answer equals the unpruned sort") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, i * 2.0)).toDF("k", "x"),
      clusterKey = Some("k"), files = 8)
    val expectAsc = SnapshotTable.read(spark, root)
      .orderBy(asc("k")).limit(7).collect().map(_.getLong(0)).toSeq
    val qAsc = readFmt(root).load().orderBy(asc("k")).limit(7)
    val planAsc = qAsc.queryExecution.executedPlan.toString
    val mA = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(planAsc).get
    assert(mA.group(1).toInt < mA.group(2).toInt,
      s"ascending top-N must prune tail files:\n$planAsc")
    assert(planAsc.contains("PushedTopN: ORDER BY k ASC"), planAsc)
    assert(qAsc.collect().map(_.getLong(0)).toSeq == expectAsc)

    val expectDesc = SnapshotTable.read(spark, root)
      .orderBy(desc("k")).limit(7).collect().map(_.getLong(0)).toSeq
    val qDesc = readFmt(root).load().orderBy(desc("k")).limit(7)
    val planDesc = qDesc.queryExecution.executedPlan.toString
    val mD = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(planDesc).get
    assert(mD.group(1).toInt < mD.group(2).toInt,
      s"descending top-N must prune head files:\n$planDesc")
    assert(qDesc.collect().map(_.getLong(0)).toSeq == expectDesc)
  }

  test("top-N pushdown is NULL-sound: files holding NULL keys are " +
      "kept under NULLS FIRST and the pruned answer matches the " +
      "unpruned one under both null orderings") {
    val root = tmpRoot()
    // one slice of the key space is NULL — after range clustering the
    // NULL rows land in some file whose min/max stats cannot see them
    val rows = (1 to 4000).map { i =>
      (if (i % 97 == 0) None else Some(i.toLong), i * 1.0)
    }.toDF("k", "x")
    SnapshotTable.commit(spark, root, rows, clusterKey = Some("k"),
      files = 8)
    val native = SnapshotTable.read(spark, root)
    for (ord <- Seq(asc_nulls_first("k"), asc_nulls_last("k"),
        desc_nulls_first("k"), desc_nulls_last("k"))) {
      val expect = native.orderBy(ord, asc("x")).limit(9)
        .collect().map(_.toSeq).toSeq
      val got = readFmt(root).load().orderBy(ord, asc("x")).limit(9)
      // two sort columns: Spark cannot push this as top-N, so it
      // exercises the decline path; single-column forms push
      assert(got.collect().map(_.toSeq).toSeq == expect,
        s"multi-column sort answer changed under $ord")
      def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.collect().map(r =>
          if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
      val single = readFmt(root).load().orderBy(ord).limit(9)
      assert(keys(single) == keys(native.orderBy(ord).limit(9)),
        s"single-column top-N key multiset changed under $ord")
    }
  }

  test("vectorized read path: clean scans serve ColumnarBatches " +
      "(ColumnarToRow in plan), schema evolution keeps the columnar " +
      "path via NULL vectors, and PUSHED-FILTER and MOR scans stay " +
      "columnar too — selective scans and merge-on-read are the " +
      "dominant 100 TB shapes") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 9000).map(i => (i.toLong, i * 2.0)).toDF("k", "x"),
      clusterKey = Some("k"), files = 4)
    // clean scan: columnar, and bit-equal to the native read
    val clean = readFmt(root).load()
    val planClean = clean.queryExecution.executedPlan.toString
    assert(planClean.contains("ColumnarToRow"),
      s"clean scan must vectorize:\n$planClean")
    assert(clean.orderBy("k").collect().map(_.toSeq).toSeq ==
      SnapshotTable.read(spark, root).orderBy("k").collect()
        .map(_.toSeq).toSeq)
    // schema evolution: new column, old files read NULL for it
    // WITHOUT dropping off the columnar path
    SnapshotTable.append(spark, root,
      Seq((9001L, 1.0, "tagged")).toDF("k", "x", "tag"))
    val evolved = readFmt(root).load()
    val planEv = evolved.queryExecution.executedPlan.toString
    assert(planEv.contains("ColumnarToRow"),
      s"schema-evolved scan must stay columnar:\n$planEv")
    assert(evolved.count() == 9001)
    assert(evolved.filter(col("tag").isNotNull).count() == 1)
    assert(evolved.filter(col("k") === 1L).collect()(0)
      .isNullAt(2), "pre-evolution rows must read NULL tag")
    // column pruning through the vectorized path
    assert(evolved.select("x").agg(sum("x")).collect()(0).getDouble(0) ==
      SnapshotTable.read(spark, root).select("x").agg(sum("x"))
        .collect()(0).getDouble(0))
    // pushed filter: STILL columnar — row-group pruning rides the
    // vectorized reader's options instead of forcing the row path
    val filtered = readFmt(root).load().filter(col("k") <= 10)
    assert(filtered.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"),
      "a pushed band predicate must not de-vectorize the scan")
    assert(filtered.count() == 10)
    def native(cols: String*): Seq[Seq[Any]] =
      SnapshotTable.read(spark, root).select(cols.map(col): _*)
        .orderBy("k").collect().map(_.toSeq).toSeq
    // `_file` (every copy-on-write UPDATE/MERGE/DELETE scan needs it)
    // rides the constant-fill channel: still columnar, one path per
    // data file, and the data columns equal the native read
    val withFile = readFmt(root).load().select("k", "x", "_file")
    assert(withFile.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"), "a _file scan must stay columnar")
    val fileRows = withFile.orderBy("k").collect()
    assert(fileRows.map(r => Seq(r.get(0), r.get(1))).toSeq ==
      native("k", "x"))
    val footers = SnapshotTable.manifest(spark, root,
      SnapshotTable.currentVersion(spark, root)).filter(_.kind == "d")
      .map(e => new org.apache.hadoop.fs.Path(root, e.path).toString ->
        e.rows.get).toMap
    assert(fileRows.groupBy(_.getString(2)).map { case (p, rs) =>
      p -> rs.length.toLong } == footers)
    // an OFFSET whose remainder lands inside a file: the skip is a
    // selection over the first surviving file's batch, still columnar.
    // Files are key-clustered in manifest order, so the survivors are
    // exactly the keys past the offset
    val off = readFmt(root).load().offset(3000)
    val planOff = off.queryExecution.executedPlan.toString
    assert(planOff.contains("PushedOffset: OFFSET 3000") &&
      planOff.contains("ColumnarToRow"),
      s"an in-file OFFSET remainder must stay columnar:\n$planOff")
    assert(off.orderBy("k").collect().map(_.toSeq).toSeq ==
      native("k", "x", "tag").filter(_.head.asInstanceOf[Long] > 3000))
    // MOR: kills apply as a SELECTION over the decoded batch — the
    // scan stays columnar and bit-equals the native read
    SnapshotTable.deleteKeysOnRead(spark, root, Seq(5L).toDF("k"), "k")
    val mor = readFmt(root).load()
    assert(mor.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"),
      "a MOR tombstone must not de-vectorize the scan")
    assert(mor.count() == 9000)
    assert(mor.filter(col("k") === 5L).count() == 0)
    assert(mor.orderBy("k").collect().map(_.toSeq).toSeq ==
      SnapshotTable.read(spark, root).orderBy("k").collect()
        .map(_.toSeq).toSeq)
    // MOR + pushed filter COMPOSED, columnar, exact: the unprojected
    // kill key rides as a hidden trailing vector and never surfaces
    val both = readFmt(root).load().filter(col("k").between(1, 20))
      .select("x")
    assert(both.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    assert(both.collect().map(_.getDouble(0)).sorted.toSeq ==
      (1 to 20).filter(_ != 5).map(_ * 2.0).sorted)
  }

  test("OFFSET pushdown drops whole head files plus an exact in-file " +
      "remainder; composes with LIMIT; declines on MOR") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, i * 2.0)).toDF("k", "x"),
      clusterKey = Some("k"), files = 8)
    val total = 20000L
    // plain OFFSET: Spark deletes the Offset operator, so the scan's
    // own skip must be exact — row count is the proof
    val q = readFmt(root).load().offset(3000)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedOffset: OFFSET 3000"), plan)
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"OFFSET 3000 over 2500-row files must drop head files:\n$plan")
    assert(q.count() == total - 3000)
    // OFFSET without ORDER BY drops an ARBITRARY 3000 rows (manifest
    // order, not key order) — what must hold is that the survivors
    // are 17000 DISTINCT original rows, i.e. the skip neither
    // duplicated nor re-read anything (the 547-row in-file remainder
    // is included in that arithmetic: 8 × 2500-row files can only
    // reach 3000 with a partial-file skip)
    val kept = q.select("k").collect().map(_.getLong(0))
    assert(kept.length == (total - 3000).toInt)
    assert(kept.distinct.length == kept.length, "skip duplicated rows")
    assert(kept.forall(k => k >= 1L && k <= total))
    // LIMIT + OFFSET combined: Spark pushes limit+offset as the
    // limit, then the offset — count must be exactly the limit
    val lo = readFmt(root).load().offset(2600).limit(10)
    val planLo = lo.queryExecution.executedPlan.toString
    assert(planLo.contains("PushedOffset: OFFSET 2600"), planLo)
    assert(lo.count() == 10)
    assert(lo.select("k").collect().map(_.getLong(0)).forall(_ > 2600))
    // offset beyond the table: empty, never negative
    assert(readFmt(root).load().offset(30000).count() == 0)
    // MOR: counts overcount, the pushdown must decline
    SnapshotTable.deleteKeysOnRead(spark, root, Seq(1L).toDF("k"), "k")
    val mor = readFmt(root).load().offset(10)
    assert(!mor.queryExecution.executedPlan.toString
      .contains("PushedOffset"), "MOR table must not push offset")
    assert(mor.count() == total - 1 - 10)
  }

  test("LIMIT and top-N pushdown decline on merge-on-read tables: " +
      "tombstones can remove rows, so every data file stays planned") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, i * 2.0)).toDF("k", "x"),
      clusterKey = Some("k"), files = 8)
    SnapshotTable.deleteKeysOnRead(spark, root, Seq(1L, 2L).toDF("k"), "k")
    val q = readFmt(root).load().orderBy(asc("k")).limit(3)
    val plan = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(m.group(1).toInt == m.group(2).toInt,
      s"MOR table must not limit-prune files:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L),
      "deleted head keys must stay deleted under the pushed limit")
  }
}
