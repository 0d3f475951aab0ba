package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{MaterializedView, SnapshotTable}

/** MIN/MAX columns in [[MaterializedView.IncrementalView]] — monotone
  * merge for insert-only groups, exact bounded recompute for groups a
  * delete touched. Every refresh is asserted bit-equal to a
  * from-scratch rollup. */
class MvMinMaxSpec extends SparkSpec {

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-mm").toString + "/t"

  private def src: DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))

  private def mkView(): MaterializedView.IncrementalView = {
    val base = tmpRoot()
    MaterializedView.IncrementalView(base + "_src", base + "_view",
      keys = Seq("o_orderstatus"), sumCols = Seq("o_totalprice"),
      minMaxCols = Seq("o_totalprice", "o_orderkey"))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("o_orderstatus"), col("n"),
        col("sum_o_totalprice").cast("decimal(20,2)"),
        col("cnt_o_totalprice"),
        col("min_o_totalprice"), col("max_o_totalprice"),
        col("min_o_orderkey"), col("max_o_orderkey"))
      .collect().map(_.mkString("|")).sorted.toSeq

  private def expected(v: MaterializedView.IncrementalView): Seq[String] =
    canon(SnapshotTable.read(spark, v.sourceRoot)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(20,2)"))
          .as("sum_o_totalprice"),
        count(col("o_totalprice")).as("cnt_o_totalprice"),
        min(col("o_totalprice")).as("min_o_totalprice"),
        max(col("o_totalprice")).as("max_o_totalprice"),
        min(col("o_orderkey")).as("min_o_orderkey"),
        max(col("o_orderkey")).as("max_o_orderkey")))

  private def served(v: MaterializedView.IncrementalView): Seq[String] =
    canon(MaterializedView.read(spark, v))

  test("min/max maintenance: monotone merge on appends, exact bounded " +
      "recompute when a delete touches a group — including deleting " +
      "the group minimum and draining a group") {
    val v = mkView()
    val o = src
    SnapshotTable.commit(spark, v.sourceRoot, o,
      clusterKey = Some("o_orderstatus"), files = 6)
    MaterializedView.refreshIncremental(spark, v) // bootstrap
    assert(served(v) == expected(v), "bootstrap")
    val afterBoot = SnapshotTable.currentVersion(spark, v.viewRoot)

    // append-only: extrema merge monotonically (a new global max and
    // a new global min among the appended rows)
    SnapshotTable.append(spark, v.sourceRoot,
      o.limit(20).select(
        (col("o_orderkey") + 90000000L).as("o_orderkey"),
        col("o_orderstatus"),
        (col("o_totalprice") * 100).as("o_totalprice")))
    SnapshotTable.append(spark, v.sourceRoot,
      o.limit(5).select(
        (-col("o_orderkey")).as("o_orderkey"),
        col("o_orderstatus"),
        (col("o_totalprice") / 1000).as("o_totalprice")))
    MaterializedView.refreshIncremental(spark, v)
    assert(served(v) == expected(v), "append-only extrema")

    // delete exactly the rows carrying each status's MINIMUM price —
    // the monotone merge cannot answer this; the touched groups must
    // recompute and surface the runner-up
    import org.apache.spark.sql.expressions.Window
    val cur = SnapshotTable.read(spark, v.sourceRoot)
    val mins = cur.withColumn("rk",
        row_number().over(Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)))
      .filter(col("rk") === 1).select("o_orderkey")
    SnapshotTable.deleteKeysOnRead(spark, v.sourceRoot, mins,
      "o_orderkey")
    MaterializedView.refreshIncremental(spark, v)
    assert(served(v) == expected(v), "deleted the group minima")

    // mixed batch: deletes in one group, inserts in another, and a
    // group drained entirely — one refresh
    val status0 = o.select(min(col("o_orderstatus"))).head().getString(0)
    SnapshotTable.deleteKeysOnRead(spark, v.sourceRoot,
      SnapshotTable.read(spark, v.sourceRoot)
        .filter(col("o_orderstatus") === status0)
        .select("o_orderkey"),
      "o_orderkey")
    SnapshotTable.append(spark, v.sourceRoot,
      o.filter(col("o_orderstatus") =!= status0).limit(7).select(
        (col("o_orderkey") + 95000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
    MaterializedView.refreshIncremental(spark, v)
    assert(served(v) == expected(v), "mixed batch + drained group")
    assert(MaterializedView.read(spark, v)
      .filter(col("o_orderstatus") === status0).count() == 0,
      "drained group leaves the view")

    // every refresh above was a delta commit
    assert(SnapshotTable.currentVersion(spark, v.viewRoot) ==
      afterBoot + 3)
  }

  test("IO shape: an append-only refresh never re-opens the source's " +
      "pre-existing files even with min/max columns; a delete-touched " +
      "refresh opens only the touched groups' source files") {
    val v = mkView()
    val o = src
    // bloom on the MOR key so the delete-diff leg prunes to the files
    // actually holding the tombstoned keys (range stats are on the
    // cluster key, which is the GROUP key here)
    SnapshotTable.commit(spark, v.sourceRoot, o,
      clusterKey = Some("o_orderstatus"), files = 6,
      bloomKey = Some("o_orderkey"))
    MaterializedView.refreshIncremental(spark, v)
    val srcV1Files =
      plannedFiles(SnapshotTable.readVersion(spark, v.sourceRoot, 1L)).toSet
    assert(srcV1Files.size > 2, "need a multi-file source")

    // pending append only: the read-time frame must not touch v1 files
    SnapshotTable.append(spark, v.sourceRoot,
      o.limit(10).select(
        (col("o_orderkey") + 91000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
    val freshFrame = MaterializedView.readFresh(spark, v)
    assert(canon(freshFrame) == expected(v), "readFresh append-only")
    // readFresh returns its merge checkpointed: plan the merge itself
    def mergeFiles(lastV: Long, curV: Long): Set[String] = {
      val (merge, cleanup) = MaterializedView.freshMerge(spark, v,
        SnapshotTable.currentVersion(spark, v.viewRoot), lastV, curV)
      try plannedFiles(merge).toSet finally cleanup()
    }
    assert((mergeFiles(1L, 2L) intersect srcV1Files).isEmpty,
      "append-only min/max refresh re-read the source")
    MaterializedView.refreshIncremental(spark, v)

    // pending delete touching ONE group: recompute reads only that
    // group's files (source range-clustered on the group key)
    val oneStatus = o.select(max(col("o_orderstatus"))).head()
      .getString(0)
    SnapshotTable.deleteKeysOnRead(spark, v.sourceRoot,
      SnapshotTable.read(spark, v.sourceRoot)
        .filter(col("o_orderstatus") === oneStatus).limit(3)
        .select("o_orderkey"),
      "o_orderkey")
    val freshDel = MaterializedView.readFresh(spark, v)
    assert(canon(freshDel) == expected(v), "readFresh delete-touched")
    val touched = mergeFiles(2L, 3L) intersect srcV1Files
    assert(touched.size < srcV1Files.size,
      s"recompute opened ${touched.size}/${srcV1Files.size} source " +
        "files — group pruning lost")
  }

  test("min/max through the STREAMING CDC feed: a MOR delete that " +
      "kills group minima recomputes those groups against the batch's " +
      "own version") {
    val v = mkView()
    val o = src
    SnapshotTable.commit(spark, v.sourceRoot, o,
      clusterKey = Some("o_orderstatus"), bloomKey = Some("o_orderkey"))
    val cp = java.nio.file.Files
      .createTempDirectory("graft-mm-cp").toString
    val q = MaterializedView.cdcFeedRetract(spark, v, cp)
    try {
      q.processAllAvailable() // bootstrap
      assert(served(v) == expected(v), "bootstrap via feed")
      // delete each status's current minimum-price rows, then append
      // new extrema — both land through the changelog stream
      import org.apache.spark.sql.expressions.Window
      val mins = SnapshotTable.read(spark, v.sourceRoot)
        .withColumn("rk",
          row_number().over(Window.partitionBy("o_orderstatus")
            .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)))
        .filter(col("rk") <= 2).select("o_orderkey")
      SnapshotTable.deleteKeysOnRead(spark, v.sourceRoot, mins,
        "o_orderkey")
      SnapshotTable.append(spark, v.sourceRoot,
        o.limit(10).select(
          (col("o_orderkey") + 97000000L).as("o_orderkey"),
          col("o_orderstatus"),
          (col("o_totalprice") * 50).as("o_totalprice")))
      q.processAllAvailable()
      assert(served(v) == expected(v),
        "streamed MOR delete of group minima + appended maxima")
    } finally q.stop()
  }

  test("NULL group key and all-NULL extrema survive the delete-" +
      "recompute path") {
    val base = tmpRoot()
    val v = MaterializedView.IncrementalView(base + "_src",
      base + "_view", keys = Seq("g"), sumCols = Seq("x"),
      minMaxCols = Seq("x"))
    import spark.implicits._
    val rows = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, null, 10L), (2L, null, 20L), (3L, 7L, null),
      (4L, 7L, 5L), (5L, 8L, 1L)).toDF("id", "g", "x")
    SnapshotTable.commit(spark, v.sourceRoot, rows,
      clusterKey = Some("id"))
    MaterializedView.refreshIncremental(spark, v)
    // delete the NULL-key group's min (id=1) and group 7's only
    // non-null value (id=4, leaving an all-NULL extremum)
    SnapshotTable.deleteKeysOnRead(spark, v.sourceRoot,
      Seq(1L, 4L).toDF("id"), "id")
    MaterializedView.refreshIncremental(spark, v)
    val got = MaterializedView.read(spark, v)
      .select("g", "n", "min_x", "max_x")
      .collect().map(_.mkString("|")).sorted.toSeq
    val want = SnapshotTable.read(spark, v.sourceRoot)
      .groupBy("g").agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .select("g", "n", "min_x", "max_x")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(got == want)
    assert(got.exists(_.startsWith("null|")), "NULL-key group kept")
    assert(got.exists(s => s.startsWith("7|") && s.endsWith("null|null")),
      "all-NULL extrema group served as SQL NULL")
  }
}
