package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{MaterializedView, SnapshotTable}

/** [[MaterializedView.JoinView]] — incremental maintenance of a
  * fact ⋈ dim rollup from both tables' version deltas
  * (Δ(F⋈D) = ΔF⋈D_new + F_old⋈ΔD), with key-pruned table reads.
  *
  * Every incremental result is asserted BIT-EQUAL to a from-scratch
  * recompute of the same rollup over the two tables' current
  * snapshots — the maintenance algebra has no epsilon. */
class JoinViewSpec extends SparkSpec {

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-jv").toString + "/t"

  /** orders-shaped fact (key, custkey FK, price) and customer-shaped
    * dim (custkey PK, segment) from the sf fixture. */
  private def factDf: DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private def dimDf: DataFrame =
    Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))

  private def mkView(): MaterializedView.JoinView = {
    val base = tmpRoot()
    MaterializedView.JoinView(
      factRoot = base + "_fact", dimRoot = base + "_dim",
      viewRoot = base + "_view",
      factKey = "o_custkey", dimKey = "c_custkey",
      keys = Seq("c_mktsegment"), sumCols = Seq("o_totalprice"))
  }

  /** From-scratch recompute of the view's rollup over the CURRENT
    * snapshots — the oracle every incremental refresh must bit-match. */
  private def expected(v: MaterializedView.JoinView): Seq[String] = {
    val f = SnapshotTable.read(spark, v.factRoot)
    val d = SnapshotTable.read(spark, v.dimRoot)
    canon(f.join(d, f("o_custkey") === d("c_custkey"), "inner")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(20,2)"))
          .as("sum_o_totalprice"),
        count(col("o_totalprice")).as("cnt_o_totalprice")))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("c_mktsegment"), col("n"),
        col("sum_o_totalprice").cast("decimal(20,2)"),
        col("cnt_o_totalprice"))
      .collect().map(_.mkString("|")).sorted.toSeq

  private def served(v: MaterializedView.JoinView): Seq[String] =
    canon(MaterializedView.read(spark, v))

  test("bootstrap (full recompute) then fact-append, fact MOR-delete, " +
      "dim MOR-update, and a both-sides version — every incremental " +
      "refresh bit-matches a from-scratch recompute") {
    val v = mkView()
    val fact = factDf
    SnapshotTable.commit(spark, v.factRoot, fact,
      clusterKey = Some("o_custkey"), files = 8)
    SnapshotTable.commit(spark, v.dimRoot, dimDf,
      clusterKey = Some("c_custkey"), files = 4)

    // bootstrap: no marker -> full path
    assert(MaterializedView.isStale(spark, v))
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(!MaterializedView.isStale(spark, v))
    assert(served(v) == expected(v), "bootstrap")
    val viewAfterBoot = SnapshotTable.currentVersion(spark, v.viewRoot)

    // fact append: new orders under fresh keys
    SnapshotTable.append(spark, v.factRoot,
      fact.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice")))
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "fact append")

    // fact MOR delete
    SnapshotTable.deleteKeysOnRead(spark, v.factRoot,
      fact.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
      "o_orderkey")
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "fact MOR delete")

    // dim MOR update: move every 7th customer to a new segment — the
    // delta must retract those customers' fact rows from their old
    // segment and re-add them under 'MOVED'
    SnapshotTable.mergeOnRead(spark, v.dimRoot,
      dimDf.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("MOVED")),
      "c_custkey")
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "dim MOR update")

    // both sides change between refreshes (the cross term ΔF⋈ΔD rides
    // D_new): append fact rows AND move more dim rows, one refresh
    SnapshotTable.append(spark, v.factRoot,
      fact.filter(col("o_orderkey") % 19 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
    SnapshotTable.mergeOnRead(spark, v.dimRoot,
      dimDf.filter(col("c_custkey") % 11 === 0)
        .withColumn("c_mktsegment", lit("MOVED2")),
      "c_custkey")
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "both sides changed")

    // every post-bootstrap refresh was a DELTA commit, not a recompute:
    // the view advanced exactly once per refresh call
    assert(SnapshotTable.currentVersion(spark, v.viewRoot) ==
      viewAfterBoot + 4)

    // refresh when fresh: no-op, version unchanged
    val cur = SnapshotTable.currentVersion(spark, v.viewRoot)
    assert(MaterializedView.refreshJoinIncremental(spark, v) == cur)
    assert(SnapshotTable.currentVersion(spark, v.viewRoot) == cur)
  }

  test("IO shape: a fact-only append never re-opens the fact's " +
      "pre-existing files; a dim-only change opens only the fact files " +
      "whose stats admit the touched keys") {
    val v = mkView()
    val fact = factDf
    SnapshotTable.commit(spark, v.factRoot, fact,
      clusterKey = Some("o_custkey"), files = 8)
    SnapshotTable.commit(spark, v.dimRoot, dimDf,
      clusterKey = Some("c_custkey"), files = 4)
    MaterializedView.refreshJoinIncremental(spark, v) // bootstrap

    val factV1Files =
      plannedFiles(SnapshotTable.readVersion(spark, v.factRoot, 1L)).toSet
    assert(factV1Files.size == 8, "clustered commit should stage 8 files")

    // fact-only: ΔF ⋈ D_new must read ONLY the appended fact files
    SnapshotTable.append(spark, v.factRoot,
      fact.limit(50).select(
        (col("o_orderkey") + 30000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice")))
    val curF = SnapshotTable.currentVersion(spark, v.factRoot)
    val curD = SnapshotTable.currentVersion(spark, v.dimRoot)
    val (rowsF, cleanF) = MaterializedView.joinSignedRows(spark, v,
      lastF = 1L, lastD = curD, curF = curF, curD = curD).get
    val openedF = plannedFiles(rowsF).toSet
    cleanF()
    assert((openedF intersect factV1Files).isEmpty,
      s"fact-only delta re-opened pre-existing fact files: " +
        s"${openedF intersect factV1Files}")
    MaterializedView.refreshJoinIncremental(spark, v)

    // dim-only: F_old ⋈ ΔD must open a strict subset of fact files —
    // touch ONE customer key, whose fact rows live in few range files
    val oneKey = dimDf.select(min(col("c_custkey"))).head().getLong(0)
    SnapshotTable.mergeOnRead(spark, v.dimRoot,
      dimDf.filter(col("c_custkey") === oneKey)
        .withColumn("c_mktsegment", lit("SOLO")),
      "c_custkey")
    val lastF2 = SnapshotTable.currentVersion(spark, v.factRoot)
    val (rowsD, cleanD) = MaterializedView.joinSignedRows(spark, v,
      lastF = lastF2, lastD = curD,
      curF = lastF2,
      curD = SnapshotTable.currentVersion(spark, v.dimRoot)).get
    val openedD = plannedFiles(rowsD).toSet intersect factV1Files
    cleanD()
    assert(openedD.size < factV1Files.size,
      s"dim-only delta opened ${openedD.size}/${factV1Files.size} " +
        "fact files — pruning lost")
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "after IO-shape history")
  }

  test("group keys from the DIM side with a NULL group: the null-safe " +
      "merge keeps exactly one NULL-segment group through updates") {
    val v = mkView()
    val fact = factDf
    // null out one customer's segment so the view has a NULL group key
    val dim0 = dimDf.withColumn("c_mktsegment",
      when(col("c_custkey") % 5 === 0, lit(null: String))
        .otherwise(col("c_mktsegment")))
    SnapshotTable.commit(spark, v.factRoot, fact,
      clusterKey = Some("o_custkey"), files = 8)
    SnapshotTable.commit(spark, v.dimRoot, dim0,
      clusterKey = Some("c_custkey"), files = 4)
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "bootstrap with NULL group")
    assert(MaterializedView.read(spark, v)
      .filter(col("c_mktsegment").isNull).count() == 1)

    // append fact rows referencing NULL-segment customers — the delta
    // must merge INTO the existing NULL group, not duplicate it
    SnapshotTable.append(spark, v.factRoot,
      fact.filter(col("o_custkey") % 5 === 0).limit(20)
        .select((col("o_orderkey") + 40000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "append into NULL group")
    assert(MaterializedView.read(spark, v)
      .filter(col("c_mktsegment").isNull).count() == 1)
  }

  test("a group emptied by deletes leaves the view; expired source " +
      "versions and overlapping column names are handled") {
    val v = mkView()
    val fact = factDf
    // a tiny private segment: customers 1..3 with segment 'ONLY',
    // plus their fact rows — deleting the fact rows must DROP the
    // group (n reaches zero), not leave a zero row
    val dim0 = dimDf.withColumn("c_mktsegment",
      when(col("c_custkey") <= 3, lit("ONLY"))
        .otherwise(col("c_mktsegment")))
    SnapshotTable.commit(spark, v.factRoot, fact,
      clusterKey = Some("o_custkey"), files = 8)
    SnapshotTable.commit(spark, v.dimRoot, dim0,
      clusterKey = Some("c_custkey"), files = 4)
    MaterializedView.refreshJoinIncremental(spark, v)
    val hadOnly = MaterializedView.read(spark, v)
      .filter(col("c_mktsegment") === "ONLY").count()
    assert(hadOnly == 1L, "fixture: the ONLY group exists")

    SnapshotTable.deleteKeysOnRead(spark, v.factRoot,
      fact.filter(col("o_custkey") <= 3).select("o_orderkey"),
      "o_orderkey")
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "group drained by fact deletes")
    assert(MaterializedView.read(spark, v)
      .filter(col("c_mktsegment") === "ONLY").count() == 0,
      "an emptied group must leave the view")

    // expire the consumed fact version: the next refresh must fall
    // back to a full recompute and still serve the exact rollup
    SnapshotTable.append(spark, v.factRoot,
      fact.limit(5).select(
        (col("o_orderkey") + 50000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice")))
    SnapshotTable.expireSnapshots(spark, v.factRoot, keep = 1)
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(served(v) == expected(v), "recompute after expiry")

    // overlapping column names are refused loudly
    val bad = MaterializedView.JoinView(v.factRoot, v.factRoot,
      tmpRoot(), "o_custkey", "o_custkey",
      Seq("o_orderkey"), Seq("o_totalprice"))
    val e = intercept[IllegalArgumentException] {
      MaterializedView.refreshJoin(spark, bad)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("readFresh: the committed rollup plus the pending delta, merged " +
      "at read time — always exact, never commits") {
    val v = mkView()
    val fact = factDf
    SnapshotTable.commit(spark, v.factRoot, fact,
      clusterKey = Some("o_custkey"), files = 8)
    SnapshotTable.commit(spark, v.dimRoot, dimDf,
      clusterKey = Some("c_custkey"), files = 4)

    // never-refreshed: readFresh computes the rollup straight from the
    // sources, still without committing
    assert(canon(MaterializedView.readFresh(spark, v)) == expected(v),
      "compute-on-read before any refresh")
    assert(SnapshotTable.currentVersion(spark, v.viewRoot) == 0L)

    MaterializedView.refreshJoinIncremental(spark, v) // bootstrap
    val viewV = SnapshotTable.currentVersion(spark, v.viewRoot)

    // fresh view: readFresh == read
    assert(canon(MaterializedView.readFresh(spark, v)) == served(v))

    // UN-refreshed fact MOR-delete + dim MOR-update + fact append: the
    // read-time merge must serve the exact current rollup while the
    // committed view stays at its old version
    SnapshotTable.deleteKeysOnRead(spark, v.factRoot,
      fact.filter(col("o_orderkey") % 23 === 0).select("o_orderkey"),
      "o_orderkey")
    SnapshotTable.mergeOnRead(spark, v.dimRoot,
      dimDf.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_mktsegment", lit("FRESHMOVED")),
      "c_custkey")
    SnapshotTable.append(spark, v.factRoot,
      fact.limit(30).select(
        (col("o_orderkey") + 70000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice")))
    assert(canon(MaterializedView.readFresh(spark, v)) == expected(v),
      "read-time merge over pending changes")
    assert(SnapshotTable.currentVersion(spark, v.viewRoot) == viewV,
      "readFresh must not commit")
    // the committed view is genuinely behind — the read-time merge did
    // real work
    assert(served(v) != expected(v), "fixture: view is stale")

    // expired consumed version: readFresh falls back to compute-on-read
    SnapshotTable.expireSnapshots(spark, v.factRoot, keep = 1)
    assert(canon(MaterializedView.readFresh(spark, v)) == expected(v),
      "compute-on-read after expiry")
    assert(SnapshotTable.currentVersion(spark, v.viewRoot) == viewV)
  }

  test("readFresh (single-source IncrementalView): pending MOR deletes " +
      "and appends served exactly without a refresh") {
    val base = tmpRoot()
    val fact = factDf
    SnapshotTable.commit(spark, base + "_src", fact,
      clusterKey = Some("o_orderkey"))
    val iv = MaterializedView.IncrementalView(base + "_src",
      base + "_iview", keys = Seq("o_custkey"),
      sumCols = Seq("o_totalprice"))
    MaterializedView.refreshIncremental(spark, iv)
    val viewV = SnapshotTable.currentVersion(spark, iv.viewRoot)

    SnapshotTable.deleteKeysOnRead(spark, base + "_src",
      fact.filter(col("o_orderkey") % 29 === 0).select("o_orderkey"),
      "o_orderkey")
    SnapshotTable.append(spark, base + "_src",
      fact.limit(25).select(
        (col("o_orderkey") + 80000000L).as("o_orderkey"),
        col("o_custkey"), (col("o_totalprice") * 2).as("o_totalprice")))

    def canonIv(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("o_custkey"), col("n"),
          col("sum_o_totalprice").cast("decimal(20,2)"),
          col("cnt_o_totalprice"))
        .collect().map(_.mkString("|")).sorted.toSeq
    val want = canonIv(SnapshotTable.read(spark, base + "_src")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(20,2)"))
          .as("sum_o_totalprice"),
        count(col("o_totalprice")).as("cnt_o_totalprice")))
    assert(canonIv(MaterializedView.readFresh(spark, iv)) == want)
    assert(SnapshotTable.currentVersion(spark, iv.viewRoot) == viewV,
      "readFresh must not commit")
  }

  test("StarView (2 dims): lineitem x part x supplier rollup stays " +
      "bit-exact through fact deletes, BOTH dims' MOR updates, a fact " +
      "append, and a three-tables-changed refresh; readFresh serves " +
      "pending changes") {
    val base = tmpRoot()
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"))
    val part = Tables.load(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val supp = Tables.load(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val sv = MaterializedView.StarView(
      factRoot = base + "_li", viewRoot = base + "_sview",
      dims = Seq(
        MaterializedView.StarDim(base + "_part", "l_partkey", "p_partkey"),
        MaterializedView.StarDim(base + "_supp", "l_suppkey", "s_suppkey")),
      keys = Seq("p_brand", "s_nationkey"),
      sumCols = Seq("l_extendedprice"))
    SnapshotTable.commit(spark, sv.factRoot, li,
      clusterKey = Some("l_partkey"), files = 8)
    SnapshotTable.commit(spark, sv.dims(0).root, part,
      clusterKey = Some("p_partkey"), files = 4)
    SnapshotTable.commit(spark, sv.dims(1).root, supp,
      clusterKey = Some("s_suppkey"), files = 2)

    def expectedStar(): Seq[String] = {
      val f = SnapshotTable.read(spark, sv.factRoot)
      val p = SnapshotTable.read(spark, sv.dims(0).root)
      val s = SnapshotTable.read(spark, sv.dims(1).root)
      canonStar(f.join(p, f("l_partkey") === p("p_partkey"))
        .join(s, f("l_suppkey") === s("s_suppkey"))
        .groupBy("p_brand", "s_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(20,2)"))
            .as("sum_l_extendedprice"),
          count(col("l_extendedprice")).as("cnt_l_extendedprice")))
    }
    def canonStar(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("p_brand"), col("s_nationkey"), col("n"),
          col("sum_l_extendedprice").cast("decimal(20,2)"),
          col("cnt_l_extendedprice"))
        .collect().map(_.mkString("|")).sorted.toSeq
    def servedStar(): Seq[String] =
      canonStar(MaterializedView.read(spark, sv))

    MaterializedView.refreshStarIncremental(spark, sv) // bootstrap
    assert(servedStar() == expectedStar(), "bootstrap")
    val afterBoot = SnapshotTable.currentVersion(spark, sv.viewRoot)

    // fact delete (kills whole orders' line items)
    SnapshotTable.deleteKeysOnRead(spark, sv.factRoot,
      li.filter(col("l_orderkey") % 13 === 0).select("l_orderkey"),
      "l_orderkey")
    MaterializedView.refreshStarIncremental(spark, sv)
    assert(servedStar() == expectedStar(), "fact MOR delete")

    // dim 1 (part) MOR update: move some parts to a new brand
    SnapshotTable.mergeOnRead(spark, sv.dims(0).root,
      part.filter(col("p_partkey") % 10 === 0)
        .withColumn("p_brand", lit("Brand#99")),
      "p_partkey")
    MaterializedView.refreshStarIncremental(spark, sv)
    assert(servedStar() == expectedStar(), "part MOR update")

    // dim 2 (supplier) MOR update: move some suppliers' nation
    SnapshotTable.mergeOnRead(spark, sv.dims(1).root,
      supp.filter(col("s_suppkey") % 5 === 0)
        .withColumn("s_nationkey", lit(-1).cast("int")),
      "s_suppkey")
    MaterializedView.refreshStarIncremental(spark, sv)
    assert(servedStar() == expectedStar(), "supplier MOR update")

    // all three tables change between refreshes — every telescoping
    // cross term must land exactly once
    SnapshotTable.append(spark, sv.factRoot,
      li.limit(60).select(
        (col("l_orderkey") + 90000000L).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") * 2).as("l_extendedprice")))
    SnapshotTable.mergeOnRead(spark, sv.dims(0).root,
      part.filter(col("p_partkey") % 17 === 0)
        .withColumn("p_brand", lit("Brand#77")),
      "p_partkey")
    SnapshotTable.mergeOnRead(spark, sv.dims(1).root,
      supp.filter(col("s_suppkey") % 7 === 0)
        .withColumn("s_nationkey", lit(-2).cast("int")),
      "s_suppkey")
    MaterializedView.refreshStarIncremental(spark, sv)
    assert(servedStar() == expectedStar(), "three tables changed")

    // every post-bootstrap refresh was a delta commit
    assert(SnapshotTable.currentVersion(spark, sv.viewRoot) ==
      afterBoot + 4)

    // readFresh: pending changes on all three tables served exactly,
    // no commit
    SnapshotTable.deleteKeysOnRead(spark, sv.factRoot,
      li.filter(col("l_orderkey") % 37 === 0).select("l_orderkey"),
      "l_orderkey")
    SnapshotTable.mergeOnRead(spark, sv.dims(0).root,
      part.filter(col("p_partkey") % 23 === 0)
        .withColumn("p_brand", lit("Brand#55")),
      "p_partkey")
    val vNow = SnapshotTable.currentVersion(spark, sv.viewRoot)
    assert(canonStar(MaterializedView.readFresh(spark, sv)) ==
      expectedStar(), "readFresh over pending star changes")
    assert(SnapshotTable.currentVersion(spark, sv.viewRoot) == vNow)
  }

  test("concurrent maintainers: racing incremental refreshes " +
      "serialize through the CAS — the loser recomputes, the view " +
      "never double-counts a delta") {
    val v = mkView()
    val fact = factDf
    SnapshotTable.commit(spark, v.factRoot, fact,
      clusterKey = Some("o_custkey"), files = 8)
    SnapshotTable.commit(spark, v.dimRoot, dimDf,
      clusterKey = Some("c_custkey"), files = 4)
    MaterializedView.refreshJoinIncremental(spark, v) // bootstrap

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    for (round <- 1 to 2) {
      SnapshotTable.append(spark, v.factRoot,
        fact.limit(60).select(
          (col("o_orderkey") + round * 80000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
      SnapshotTable.mergeOnRead(spark, v.dimRoot,
        dimDf.filter(col("c_custkey") % (5 + round) === 0)
          .withColumn("c_mktsegment", lit(s"RACE$round")),
        "c_custkey")
      // three maintainers race to consume the same pending delta
      val rs = Await.result(Future.sequence(Seq.fill(3)(Future {
        MaterializedView.refreshJoinIncremental(spark, v)
      })), 120.seconds)
      assert(rs.nonEmpty)
      assert(served(v) == expected(v),
        s"round $round: racing refreshes corrupted the rollup")
      assert(!MaterializedView.isStale(spark, v))
    }
  }

  test("cascading MVs: a second-level rollup maintained from the " +
      "first view's own version history stays exact through source " +
      "changes") {
    val base = tmpRoot()
    val fact = factDf
    SnapshotTable.commit(spark, base + "_src", fact,
      clusterKey = Some("o_orderkey"))
    // level 1: per-customer rollup (many groups)
    val l1 = MaterializedView.IncrementalView(base + "_src",
      base + "_l1", keys = Seq("o_custkey"),
      sumCols = Seq("o_totalprice"))
    // level 2: distribution of per-customer order counts — groups the
    // LEVEL-1 VIEW by its own cnt column; the view table is an
    // ordinary snapshot table, so the second level needs nothing new
    // (its delta is the bag diff of two view versions)
    val l2 = MaterializedView.IncrementalView(base + "_l1",
      base + "_l2", keys = Seq("cnt_o_totalprice"),
      sumCols = Seq("sum_o_totalprice"))
    MaterializedView.refreshIncremental(spark, l1)
    MaterializedView.refreshIncremental(spark, l2)

    def want(): Seq[String] =
      SnapshotTable.read(spark, base + "_l1")
        .groupBy("cnt_o_totalprice")
        .agg(count(lit(1)).as("n"),
          sum(col("sum_o_totalprice").cast("decimal(20,2)"))
            .as("sum_sum_o_totalprice"),
          count(col("sum_o_totalprice")).as("cnt_sum_o_totalprice"))
        .collect().map(_.mkString("|")).sorted.toSeq
    def got(): Seq[String] =
      MaterializedView.read(spark, l2)
        .collect().map(_.mkString("|")).sorted.toSeq
    assert(got() == want(), "bootstrap cascade")

    // source changes ripple through both levels, each an incremental
    // refresh of its own layer
    SnapshotTable.append(spark, base + "_src",
      fact.limit(35).select(
        (col("o_orderkey") + 99000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice")))
    SnapshotTable.deleteKeysOnRead(spark, base + "_src",
      fact.filter(col("o_orderkey") % 31 === 0).select("o_orderkey"),
      "o_orderkey")
    MaterializedView.refreshIncremental(spark, l1)
    MaterializedView.refreshIncremental(spark, l2)
    assert(got() == want(),
      "level-2 view must equal a recompute over the level-1 view")
  }

  test("streaming joinFeed: two changelog wake streams keep the view " +
      "exact through fact appends and dim MOR updates") {
    val v = mkView()
    val fact = factDf
    SnapshotTable.commit(spark, v.factRoot, fact,
      clusterKey = Some("o_custkey"), files = 8)
    SnapshotTable.commit(spark, v.dimRoot, dimDf,
      clusterKey = Some("c_custkey"), files = 4)
    val cpF = java.nio.file.Files
      .createTempDirectory("graft-jv-cpf").toString
    val cpD = java.nio.file.Files
      .createTempDirectory("graft-jv-cpd").toString
    val (qf, qd) = MaterializedView.joinFeed(spark, v, cpF, cpD)
    try {
      qf.processAllAvailable(); qd.processAllAvailable()
      assert(served(v) == expected(v), "bootstrap via feed")

      SnapshotTable.append(spark, v.factRoot,
        fact.limit(40).select(
          (col("o_orderkey") + 60000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
      qf.processAllAvailable(); qd.processAllAvailable()
      assert(served(v) == expected(v), "fact append via feed")

      SnapshotTable.mergeOnRead(spark, v.dimRoot,
        dimDf.filter(col("c_custkey") % 9 === 0)
          .withColumn("c_mktsegment", lit("FEEDMOVED")),
        "c_custkey")
      qd.processAllAvailable(); qf.processAllAvailable()
      assert(served(v) == expected(v), "dim update via feed")
    } finally { qf.stop(); qd.stop() }
  }

  test("avgCols on a JoinView: avg_<c> is served as the EXACT derived " +
      "quotient through fact append, fact MOR-delete, dim MOR-update " +
      "and a both-sides tick — bit-equal to a from-scratch recompute") {
    val base = tmpRoot()
    val v = MaterializedView.JoinView(
      factRoot = base + "_fact", dimRoot = base + "_dim",
      viewRoot = base + "_view",
      factKey = "o_custkey", dimKey = "c_custkey",
      keys = Seq("c_mktsegment"), sumCols = Nil,
      avgCols = Seq("o_totalprice"))
    val fact = factDf
    SnapshotTable.commit(spark, v.factRoot, fact,
      clusterKey = Some("o_custkey"), files = 8)
    SnapshotTable.commit(spark, v.dimRoot, dimDf,
      clusterKey = Some("c_custkey"), files = 4)
    def expectedAvg(): Seq[String] = {
      val f = SnapshotTable.read(spark, v.factRoot)
      val d = SnapshotTable.read(spark, v.dimRoot)
      f.join(d, f("o_custkey") === d("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(sum(col("o_totalprice").cast("decimal(20,2)"))
          .as("s"), count(col("o_totalprice")).as("c"))
        .select(col("c_mktsegment"),
          (col("s").cast("double") / col("c")).as("a"))
        .collect().map(_.mkString("|")).sorted.toSeq
    }
    def servedAvg(): Seq[String] =
      MaterializedView.read(spark, v)
        .select(col("c_mktsegment"), col("avg_o_totalprice"))
        .collect().map(_.mkString("|")).sorted.toSeq
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(servedAvg() == expectedAvg(), "bootstrap")
    SnapshotTable.append(spark, v.factRoot,
      fact.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice")))
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(servedAvg() == expectedAvg(), "fact append")
    SnapshotTable.deleteKeysOnRead(spark, v.factRoot,
      fact.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
      "o_orderkey")
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(servedAvg() == expectedAvg(), "fact MOR delete")
    SnapshotTable.mergeOnRead(spark, v.dimRoot,
      dimDf.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("MOVED")),
      "c_custkey")
    SnapshotTable.append(spark, v.factRoot,
      fact.filter(col("o_orderkey") % 19 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
    MaterializedView.refreshJoinIncremental(spark, v)
    assert(servedAvg() == expectedAvg(), "dim update + fact append")
    // readFresh serves the same derived column without a commit
    val cur = SnapshotTable.currentVersion(spark, v.viewRoot)
    SnapshotTable.append(spark, v.factRoot,
      fact.filter(col("o_orderkey") % 23 === 0)
        .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
    val freshAvg = MaterializedView.readFresh(spark, v)
      .select(col("c_mktsegment"), col("avg_o_totalprice"))
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(freshAvg == expectedAvg(), "readFresh derived avg")
    assert(SnapshotTable.currentVersion(spark, v.viewRoot) == cur,
      "readFresh committed")
  }
}
