package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Column statistics for the cost-based optimizer: every snapshot
  * commit records a per-file, per-column HLL sketch in the manifest
  * (SnapshotTable.InlineStatsAcc, computed by the staging writer as
  * it writes each file); the connector merges the sketches of the
  * PRUNED file set at plan time and reports distinctCount /
  * nullCount / min / max through SupportsReportStatistics.columnStats,
  * which Spark folds into catalyst attributeStats — so
  * `spark.sql.cbo.enabled` finally has per-column cardinalities to
  * chew on for filter selectivity and join sizing. */
class CboStatsSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-cbo").toString

  locally {
    spark.conf.set("spark.sql.catalog.graftcbo",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcbo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcbo.db")
  }

  // big: 60k rows, k unique, grp has exactly 1200 distinct values.
  // Committed clustered (auto mode sketches k for free), then
  // ANALYZEd so every hashable column carries a sketch — the
  // explicit-maintenance path that keeps the ingest write zero-pass.
  private lazy val roots: (String, String) = {
    val bigRoot = s"$warehouse/db/big"
    val midRoot = s"$warehouse/db/mid"
    val big = (0 until 60000)
      .map(i => (i.toLong, s"g${i % 1200}", i.toDouble))
      .toDF("k", "grp", "v")
    val mid = (0 until 30000).map(i => (i.toLong, s"n$i"))
      .toDF("k", "name")
    SnapshotTable.commit(spark, bigRoot, big, clusterKey = Some("k"))
    SnapshotTable.commit(spark, midRoot, mid, clusterKey = Some("k"))
    assert(spark.sql("CALL graftcbo.system.analyze('db.big')")
      .head().getLong(1) == 3L)
    SnapshotTable.analyze(spark, midRoot)
    (bigRoot, midRoot)
  }

  private def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("auto mode sketches only the commit pass's own columns (zero " +
      "extra write IO); CALL analyze enriches every hashable column " +
      "as a metadata-only accretive commit; t.files surfaces the " +
      "per-file estimates") {
    // a fresh clustered commit: auto mode = the cluster key only
    val autoRoot = s"$warehouse/db/autot"
    SnapshotTable.commit(spark, autoRoot,
      (1 to 500).map(i => (i.toLong, s"s${i % 7}")).toDF("k", "s"),
      clusterKey = Some("k"))
    val autoE = SnapshotTable.manifest(spark, autoRoot,
      SnapshotTable.currentVersion(spark, autoRoot))
    assert(autoE.forall(_.ndv.map(_._1) == Seq("k")),
      s"auto mode sketched ${autoE.flatMap(_.ndv.map(_._1)).distinct}")
    // ...and a PLAIN commit stays a zero-pass write (no sketches),
    // which the reader treats as stat-free
    val plainRoot = s"$warehouse/db/plaint"
    SnapshotTable.commit(spark, plainRoot,
      (1 to 100).map(i => (i.toLong, s"s$i")).toDF("k", "s"))
    val sketchless = SnapshotTable.manifest(spark, plainRoot,
      SnapshotTable.currentVersion(spark, plainRoot))
    assert(sketchless.forall(_.ndv.isEmpty))
    assert(SnapshotTable.ndvEstimates(sketchless).isEmpty)

    // the ANALYZEd big table: every hashable column sketched
    val (bigRoot, _) = roots
    val vBefore = SnapshotTable.currentVersion(spark, bigRoot)
    val entries = SnapshotTable.manifest(spark, bigRoot, vBefore)
    assert(entries.nonEmpty)
    entries.foreach { e =>
      val cols = e.ndv.map(_._1).toSet
      assert(cols == Set("k", "grp", "v"), s"ndv columns: $cols")
    }
    // analyze was a metadata-only commit: same file set, op stamped
    assert(SnapshotTable.commitOperation(spark, bigRoot, vBefore)
      == "analyze")
    assert(entries.map(_.path).toSet ==
      SnapshotTable.manifest(spark, bigRoot, vBefore - 1)
        .map(_.path).toSet,
      "analyze must not move data")
    // merged across files: within HLL error of the true cardinalities
    val merged = SnapshotTable.ndvEstimates(entries)
    def within(est: Long, truth: Long, pct: Double): Boolean =
      math.abs(est - truth) <= truth * pct
    assert(within(merged("k"), 60000, 0.15), s"k ndv ${merged("k")}")
    assert(within(merged("grp"), 1200, 0.15), s"grp ndv ${merged("grp")}")
    // t.files: per-file map column with the same keys
    val files = spark.sql(
      "SELECT path, ndv FROM graftcbo.db.big.files").collect()
    assert(files.nonEmpty)
    files.foreach { r =>
      val m = r.getMap[String, Long](1)
      assert(m.keys.toSet == Set("k", "grp", "v"), s"t.files ndv: $m")
    }

    // INCREMENTAL analyze (own table — `big` stays pristine for the
    // CBO tests): a fresh append re-reads ONLY the new files; a
    // second analyze with nothing new reads zero
    val incRoot = s"$warehouse/db/incr"
    SnapshotTable.commit(spark, incRoot,
      (0 until 4000).map(i => (i.toLong, s"g${i % 100}"))
        .toDF("k", "grp"), clusterKey = Some("k"))
    val (_, _, first) = SnapshotTable.analyze(spark, incRoot)
    val nFiles = SnapshotTable.manifest(spark, incRoot,
      SnapshotTable.currentVersion(spark, incRoot)).count(_.kind == "d")
    assert(first == nFiles, s"first analyze read $first of $nFiles")
    SnapshotTable.append(spark, incRoot,
      (4000 until 4500).map(i => (i.toLong, s"g${i % 100}"))
        .toDF("k", "grp"))
    val (_, _, analyzed) = SnapshotTable.analyze(spark, incRoot)
    val nAfter = SnapshotTable.manifest(spark, incRoot,
      SnapshotTable.currentVersion(spark, incRoot)).count(_.kind == "d")
    assert(analyzed == nAfter - nFiles,
      s"incremental analyze re-read $analyzed of ${nAfter - nFiles}")
    assert(SnapshotTable.analyze(spark, incRoot)._3 == 0L,
      "analyze with nothing new must read zero files")
    // merged estimates still correct over old + new sketches
    val m2 = SnapshotTable.ndvEstimates(SnapshotTable.manifest(spark,
      incRoot, SnapshotTable.currentVersion(spark, incRoot)))
    assert(math.abs(m2("k") - 4500) <= 4500 * 0.15, m2("k").toString)
  }

  test("scan column stats reach catalyst attributeStats: distinct " +
      "counts, null count and numeric min/max on the pruned file set") {
    val (bigRoot, _) = roots
    withConfs("spark.sql.cbo.enabled" -> "true") {
      val df = spark.table("graftcbo.db.big")
      val rel = df.queryExecution.optimizedPlan
      val stats = rel.stats
      assert(stats.rowCount.contains(BigInt(60000)), stats.rowCount)
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(byName.contains("grp"), s"attributeStats: ${byName.keys}")
      val grp = byName("grp")
      assert(grp.distinctCount.exists(d =>
        (d - 1200).abs <= 180), s"grp ndv ${grp.distinctCount}")
      val k = byName("k")
      // k is the cluster/stats column: nulls and min/max recorded
      assert(k.nullCount.contains(BigInt(0)), k.nullCount)
      assert(k.min.contains(0L) && k.max.contains(59999L),
        s"k range ${k.min}..${k.max}")
    }
  }

  test("CBO uses the NDV stats: a selective non-pushable filter " +
      "shrinks the estimate enough to broadcast a join side that " +
      "plain size-only estimation shuffles") {
    val (_, _) = roots
    def plannedJoin(): String = {
      val j = spark.table("graftcbo.db.big")
        .filter(col("grp") === "g7")
        .join(spark.table("graftcbo.db.mid"), "k")
        .groupBy("name").count()
      j.queryExecution.executedPlan.toString
    }
    val base = Seq(
      // below both tables' byte sizes, so raw size never broadcasts
      "spark.sql.autoBroadcastJoinThreshold" -> "65536",
      "spark.sql.adaptive.enabled" -> "false")
    val without = withConfs(base :+
      ("spark.sql.cbo.enabled" -> "false"): _*)(plannedJoin())
    val withCbo = withConfs(base :+
      ("spark.sql.cbo.enabled" -> "true"): _*)(plannedJoin())
    assert(without.contains("SortMergeJoin"),
      s"size-only plan should shuffle:\n$without")
    assert(withCbo.contains("BroadcastHashJoin"),
      s"CBO plan should broadcast the filtered side:\n$withCbo")
    // and the CBO plan is still correct
    withConfs(base :+ ("spark.sql.cbo.enabled" -> "true"): _*) {
      val n = spark.table("graftcbo.db.big")
        .filter(col("grp") === "g7")
        .join(spark.table("graftcbo.db.mid"), "k").count()
      // grp=g7 <=> k % 1200 == 7; joined keys must also be < 30000
      assert(n == 25, s"joined rows $n")
    }
  }

  test("CostBasedJoinReorder uses the NDV stats: a 3-table join " +
      "written worst-first is reordered to take the selective join " +
      "first under CBO, and keeps the written order without it") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // fact: 40k rows; fk_a joins a 2k-row dim completely (no
    // shrink); fk_b spans 800 values of which dim_b holds only 80 —
    // the b-join shrinks 10x, which only NDV-based estimation sees
    val factRoot = s"$warehouse/db/jrf"
    val dimARoot = s"$warehouse/db/jra"
    val dimBRoot = s"$warehouse/db/jrb"
    SnapshotTable.commit(spark, factRoot,
      (0 until 40000).map(i =>
        (i.toLong % 2000, i.toLong % 800, i.toDouble))
        .toDF("fk_a", "fk_b", "v"), clusterKey = Some("fk_a"))
    SnapshotTable.commit(spark, dimARoot,
      (0 until 2000).map(i => (i.toLong, s"a$i")).toDF("a_k", "a_name"),
      clusterKey = Some("a_k"))
    SnapshotTable.commit(spark, dimBRoot,
      (0 until 80).map(i => (i.toLong * 10, s"b$i")).toDF("b_k", "b_name"),
      clusterKey = Some("b_k"))
    Seq(factRoot, dimARoot, dimBRoot)
      .foreach(SnapshotTable.analyze(spark, _))

    def bottomJoinRefs(cbo: Boolean): Set[String] = withConfs(
      "spark.sql.cbo.enabled" -> cbo.toString,
      "spark.sql.cbo.joinReorder.enabled" -> cbo.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = spark.table("graftcbo.db.jrf")
        .join(spark.table("graftcbo.db.jra"),
          col("fk_a") === col("a_k"))
        .join(spark.table("graftcbo.db.jrb"),
          col("fk_b") === col("b_k"))
        .groupBy("a_name").count()
      val joins = q.queryExecution.optimizedPlan
        .collect { case j: Join => j }
      // the bottom-most join = the one containing no other Join
      val bottom = joins.filter(j =>
        j.collect { case jj: Join => jj }.size == 1)
      assert(bottom.size == 1, s"join tree shape: ${joins.size}")
      bottom.head.references.map(_.name).toSet
    }
    val withoutCbo = bottomJoinRefs(cbo = false)
    assert(withoutCbo.contains("a_k") && !withoutCbo.contains("b_k"),
      s"written order should join dim_a first: $withoutCbo")
    val withCbo = bottomJoinRefs(cbo = true)
    assert(withCbo.contains("b_k") && !withCbo.contains("a_k"),
      s"CBO should reorder the selective b-join first: $withCbo")
    // and the reordered plan is still correct
    withConfs("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val n = spark.table("graftcbo.db.jrf")
        .join(spark.table("graftcbo.db.jra"),
          col("fk_a") === col("a_k"))
        .join(spark.table("graftcbo.db.jrb"),
          col("fk_b") === col("b_k")).count()
      // fk_b % 800 hits b_k multiples of 10 below 800: 80 values,
      // each appearing 40000/800 = 50 times
      assert(n == 80 * 50, s"joined rows $n")
    }
  }

  test("auto-analyze (opt-in): once unsketched files exceed the " +
      "stale fraction, an append triggers an incremental analyze; " +
      "below it, appends stay analyze-free; off by default") {
    val root = s"$warehouse/db/auto"
    def ops(): Seq[String] = SnapshotTable.versions(spark, root)
      .map(SnapshotTable.commitOperation(spark, root, _))
    // default OFF: appends never mint analyze commits
    SnapshotTable.commit(spark, root,
      (1 to 1000).map(i => (i.toLong, s"s$i")).toDF("k", "s"),
      clusterKey = Some("k"))
    SnapshotTable.append(spark, root,
      (1001 to 1100).map(i => (i.toLong, s"s$i")).toDF("k", "s"))
    assert(!ops().contains("analyze"), ops().toString)
    withConfs("spark.graft.stats.analyze.auto" -> "true",
      "spark.graft.stats.analyze.auto.minStale" -> "0.3") {
      // every file is unsketched for 's' => 100% stale: the next
      // append triggers one incremental analyze commit
      SnapshotTable.append(spark, root,
        Seq((1101L, "s1101")).toDF("k", "s"))
      assert(ops().count(_ == "analyze") == 1, ops().toString)
      val vA = SnapshotTable.currentVersion(spark, root)
      assert(SnapshotTable.commitOperation(spark, root, vA)
        == "analyze")
      // now fully sketched: a small append (1 stale file of many)
      // stays under 30% and does NOT re-trigger
      SnapshotTable.append(spark, root,
        Seq((1102L, "s1102")).toDF("k", "s"))
      assert(ops().count(_ == "analyze") == 1, ops().toString)
      // merged stats cover the analyzed vintage
      val m = SnapshotTable.ndvEstimates(SnapshotTable.manifest(spark,
        root, vA))
      assert(m.contains("s"), m.toString)
    }
  }

  test("t.stats surfaces the merged per-column statistics (NDV, " +
      "nulls, range) and the sketched-vs-total staleness signal") {
    val (_, _) = roots
    val rows = spark.sql("SELECT * FROM graftcbo.db.big.stats")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("k", "grp", "v"), rows.keySet.toString)
    val k = rows("k")
    assert(math.abs(k.getLong(1) - 60000) <= 9000, k.toString) // ndv
    assert(k.getLong(2) == 0L, k.toString)                // null_count
    assert(k.getString(3) == "0" && k.getString(4) == "59999",
      k.toString)                                         // min / max
    assert(k.getLong(5) == k.getLong(6), "stale sketch count")
    val grp = rows("grp")
    assert(math.abs(grp.getLong(1) - 1200) <= 180, grp.toString)
    assert(grp.isNullAt(3), "string ranges must stay unreported")
    val v = rows("v")
    assert(v.getString(3).toDouble == 0.0 &&
      v.getString(4).toDouble == 59999.0, v.toString)
  }

  test("DECIMAL columns are CBO-first-class: analyze records sketches " +
      "and ranges, t.stats reports decimal min/max, a predicate on a " +
      "NON-key decimal column PRUNES files from its analyze-recorded " +
      "ranges, and histograms build over the decimal") {
    val root = s"$warehouse/db/dec"
    val df = (0 until 40000).map(i => (i.toLong, i)).toDF("k", "i")
      .select(col("k"),
        (col("i") % 1000 + lit(0.25)).cast("decimal(12,2)").as("amt"),
        col("i").cast("decimal(20,4)").as("wide"))
    SnapshotTable.commit(spark, root, df, clusterKey = Some("k"))
    SnapshotTable.analyze(spark, root)
    val rows = spark.sql("SELECT * FROM graftcbo.db.dec.stats")
      .collect().map(r => r.getString(0) -> r).toMap
    val amt = rows("amt")
    assert(new java.math.BigDecimal(amt.getString(3))
      .compareTo(new java.math.BigDecimal("0.25")) == 0 &&
      new java.math.BigDecimal(amt.getString(4))
        .compareTo(new java.math.BigDecimal("999.25")) == 0,
      amt.toString)
    // `wide` correlates with the cluster key, so per-file ranges are
    // disjoint and the ANALYZE-recorded slots (it is NOT the cluster
    // key) prune a band predicate
    val q = spark.read.format("graft-snapshot").option("path", root)
      .load()
      .filter(col("wide") >= lit("10000.0000").cast("decimal(20,4)") &&
        col("wide") <= lit("11000.0000").cast("decimal(20,4)"))
    val desc = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString).get
    assert(desc.group(1).toInt < desc.group(2).toInt,
      s"decimal ranges did not prune: ${desc.matched}")
    assert(q.count() == 1001L)
    // histograms accept the decimal columns (double-approximated bins)
    val histed = SnapshotTable.analyzeHistograms(spark, root)
    assert(histed.contains("amt") && histed.contains("wide"),
      histed.toString)
  }

  test("equi-height histograms sharpen range selectivity on SKEWED " +
      "data where min/max interpolation is hopeless; they vanish for " +
      "pruned scans and stale versions") {
    val root = s"$warehouse/db/hist"
    // exponential skew: v in {2^0..2^27}, uniform over exponents —
    // linear interpolation between min=1 and max=1.3e8 thinks almost
    // nothing is below 8; the truth is 4/28 of all rows
    SnapshotTable.commit(spark, root,
      (0 until 28000).map(i =>
        (i.toLong, math.pow(2, i % 28))).toDF("k", "v"),
      clusterKey = Some("k"))
    SnapshotTable.analyze(spark, root)
    assert(spark.sql(
      "CALL graftcbo.system.analyze_histograms('db.hist', 16)")
      .head().getLong(0) == 2L) // k and v
    val truth = 28000.0 * 4 / 28
    def estimate(): Double = withConfs(
      "spark.sql.cbo.enabled" -> "true") {
      spark.table("graftcbo.db.hist").filter(col("v") <= 8.0)
        .queryExecution.optimizedPlan.stats.rowCount
        .map(_.toDouble).getOrElse(Double.NaN)
    }
    val withHist = estimate()
    assert(withHist >= truth / 2 && withHist <= truth * 2,
      s"histogram estimate $withHist vs truth $truth")
    // control: drop the histogram properties — the same estimate
    // falls back to linear interpolation and collapses
    val props = SnapshotTable.tableProperties(spark, root)
    SnapshotTable.setProperties(spark, root,
      props.filterNot(_._1.startsWith("graft.hist")))
    val linear = estimate()
    assert(linear < truth / 3,
      s"linear estimate $linear should be far below truth $truth")
    SnapshotTable.setProperties(spark, root, props) // restore
    // staleness: a new commit bumps the version; the histogram is
    // withheld, and the strict all-files rule drops the column's
    // NDV/range too — the estimate falls back to the unfiltered row
    // count (conservative), never to the stale sharp estimate
    SnapshotTable.append(spark, root,
      Seq((28000L, 1.0)).toDF("k", "v"))
    val afterAppend = estimate()
    assert(afterAppend >= 28000,
      s"stale stats must fall back conservatively, got $afterAppend")
  }

  test("merge-on-read tombstones keep the ROW COUNT as an upper " +
      "bound instead of withholding it: a small dimension taking MOR " +
      "deletes still carries rowCount and still broadcasts") {
    val dimRoot = s"$warehouse/db/mordim"
    SnapshotTable.commit(spark, dimRoot,
      (0 until 1200).map(i => (i.toLong, s"g${i % 40}"))
        .toDF("k", "grp2"),
      clusterKey = Some("k"))
    SnapshotTable.deleteKeysOnRead(spark, dimRoot,
      Seq(1L, 2L, 3L).toDF("k"), "k")
    val dim = spark.table("graftcbo.db.mordim")
    val stats = dim.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(rc => rc >= 1197 && rc <= 1200),
      s"MOR dim should report an upper-bound rowCount: ${stats.rowCount}")
    assert(dim.count() == 1197, "the bound is a bound, reads stay exact")
    val (bigRoot, _) = roots
    val big = spark.read.format("graft-snapshot")
      .option("path", bigRoot).load()
    val j = big.join(dim, "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"MOR dim must still broadcast:\n${plan.take(2000)}")
    assert(j.count() == 1197)
    // ...and the staleness is VISIBLE: t.stats flags every column
    // whose value-based numbers predate the live tombstones, names
    // the tombstone count, and clears the flag after compaction
    // rewrites the files
    val staleRows = spark.sql(
      "SELECT column, live_tombstones, stale " +
        "FROM graftcbo.db.mordim.stats").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(staleRows.values.forall(_._1 == 1L),
      s"one live tombstone expected: $staleRows")
    assert(staleRows("k")._2,
      s"value-based stats under live tombstones must flag stale: " +
        s"$staleRows")
    // grp2 carries NO value-based stats (auto mode sketches only the
    // cluster key; strings get no ranges) — nothing to be stale
    assert(!staleRows("grp2")._2,
      s"a column without value stats has nothing stale: $staleRows")
    SnapshotTable.compact(spark, dimRoot)
    val fresh = spark.sql(
      "SELECT column, live_tombstones, stale " +
        "FROM graftcbo.db.mordim.stats").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(fresh.values.forall(v => v._1 == 0L && !v._2),
      s"compaction must clear the staleness flag: $fresh")
  }

  test("histogram MAINTENANCE rides auto-analyze: an append past the " +
      "stale fraction folds the new files into the stored per-bin " +
      "sketches — the version stamp advances, the estimate stays " +
      "sharp, and the ORIGINAL files are never re-read (proven by " +
      "corrupting them first)") {
    val root = s"$warehouse/db/histmaint"
    // same exponential skew as the base histogram test
    SnapshotTable.commit(spark, root,
      (0 until 28000).map(i =>
        (i.toLong, math.pow(2, i % 28))).toDF("k", "v"),
      clusterKey = Some("k"))
    SnapshotTable.analyze(spark, root)
    spark.sql("CALL graftcbo.system.analyze_histograms('db.histmaint', 16)")
    def estimate(): Double = withConfs(
      "spark.sql.cbo.enabled" -> "true") {
      spark.table("graftcbo.db.histmaint").filter(col("v") <= 8.0)
        .queryExecution.optimizedPlan.stats.rowCount
        .map(_.toDouble).getOrElse(Double.NaN)
    }
    // CORRUPT the original data files in place (paths survive — the
    // commit protocol's existence guard stays satisfied — but any
    // attempt to RE-READ them as parquet now throws): a full
    // histogram recompute would fail loudly, so only genuinely
    // incremental maintenance can succeed past this point
    SnapshotTable.manifest(spark, root,
      SnapshotTable.currentVersion(spark, root)).foreach { e =>
      val p = java.nio.file.Paths.get(root, e.path)
      java.nio.file.Files.write(p, "not parquet".getBytes)
      java.nio.file.Files.deleteIfExists(p.getParent.resolve(
        "." + p.getFileName.toString + ".crc"))
    }
    spark.catalog.refreshByPath(root)
    // the append is 50% of the new file count: past the default 0.2
    // stale fraction, so auto-analyze fires and the histogram rides
    withConfs("spark.graft.stats.analyze.auto" -> "true") {
      SnapshotTable.append(spark, root,
        (0 until 4000).map(i =>
          (28000L + i, math.pow(2, i % 28))).toDF("k", "v"))
    }
    val props = SnapshotTable.tableProperties(spark, root)
    val cur = SnapshotTable.currentVersion(spark, root)
    assert(props.get("graft.hist.version").contains(cur.toString),
      s"histogram not refreshed: stamp ${props.get("graft.hist.version")}" +
        s" vs current $cur")
    val truth = 32000.0 * 4 / 28
    val sharp = estimate()
    assert(sharp >= truth / 2 && sharp <= truth * 2,
      s"maintained histogram estimate $sharp vs truth $truth " +
        "(a stale-conservative fallback would report >= 32000)")
    // height reflects BOTH generations (merge, not overwrite)
    val height = props("graft.histcol.v").split('|')(0).toDouble
    assert(math.abs(height - 32000.0 / 16) < 1.0,
      s"height $height should be total/bins = 2000")
  }

  test("analyze records what queries SURFACE for an ADD COLUMN " +
      "DEFAULT column: pre-evolution files get a one-value NDV " +
      "sketch, zero nulls and a [v,v] range — never all-NULL stats " +
      "the scan would contradict") {
    spark.sql(
      "CREATE TABLE graftcbo.db.initstats (k BIGINT, v DOUBLE)")
    val root = s"$warehouse/db/initstats"
    spark.sql("INSERT INTO graftcbo.db.initstats " +
      "SELECT id, id * 1.0 FROM range(1000)")
    spark.sql("ALTER TABLE graftcbo.db.initstats " +
      "ADD COLUMNS (w DOUBLE DEFAULT 3.0)")
    // a post-evolution file stores real w values (two of them)
    spark.sql("INSERT INTO graftcbo.db.initstats VALUES " +
      "(2000, 1.0, 7.5), (2001, 2.0, 8.5)")
    spark.sql("CALL graftcbo.system.analyze('db.initstats')")
    val entries = SnapshotTable.manifest(spark, root,
      SnapshotTable.currentVersion(spark, root))
    val (pre, post) = entries.filter(_.kind == "d")
      .partition(e => e.statsFor("w").map { case (lo, hi) =>
        (lo.toDouble, hi.toDouble) }.contains((3.0, 3.0)))
    assert(pre.nonEmpty && post.nonEmpty,
      s"expected both file generations: ${entries.map(_.path)}")
    pre.foreach { e =>
      val wNdv = e.ndv.collectFirst { case ("w", regs) => regs }
      assert(wNdv.exists(graft.functions.Hll.estimate(_) == 1L),
        s"pre-evolution ${e.path} must sketch NDV=1 for w")
      assert(e.colNulls.collectFirst { case ("w", n) => n }
        .contains(0L),
        s"pre-evolution ${e.path}: queries surface 3.0, never NULL")
      assert(e.statsFor("w").map { case (lo, hi) =>
        (lo.toDouble, hi.toDouble) }.contains((3.0, 3.0)),
        s"pre-evolution ${e.path} should carry the [3.0,3.0] range")
    }
    // table-wide: w is reported with 3 distinct values (3.0/7.5/8.5)
    // — the all-NULL recording would have dropped it to 0-or-missing
    val est = SnapshotTable.ndvEstimates(entries)
    assert(est.get("w").exists(n => n >= 2 && n <= 4),
      s"table-wide NDV for w should be ~3, got ${est.get("w")}")
  }
}
