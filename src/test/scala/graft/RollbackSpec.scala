package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** [[SnapshotTable.rollbackTo]] — metadata-only restore of a prior
  * committed version as a NEW version (history preserved). */
class RollbackSpec extends SparkSpec {

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-rb").toString + "/t"

  private def canon(root: String, v: Option[Long] = None): Seq[String] = {
    val df = v.fold(SnapshotTable.read(spark, root))(
      SnapshotTable.readVersion(spark, root, _))
    df.collect().map(_.mkString("|")).sorted.toSeq
  }

  test("rollback restores a prior version's exact contents as a new " +
      "version, metadata-only, with history preserved") {
    val root = tmpRoot()
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    SnapshotTable.commit(spark, root, orders,
      clusterKey = Some("o_orderkey"))                       // v1
    val v1Rows = canon(root)
    val v1Files =
      plannedFiles(SnapshotTable.readVersion(spark, root, 1L)).toSet

    // a bad day: MOR-delete a slice, then append junk
    SnapshotTable.deleteKeysOnRead(spark, root,
      orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"),
      "o_orderkey")                                          // v2
    SnapshotTable.append(spark, root,
      orders.limit(10).select(
        (col("o_orderkey") + 90000000L).as("o_orderkey"),
        lit("X").as("o_orderstatus"), col("o_totalprice")))  // v3
    assert(canon(root) != v1Rows, "fixture: the table diverged")

    val target = SnapshotTable.rollbackTo(spark, root, 1L)
    assert(target == 4L, "rollback mints a NEW version")
    assert(canon(root) == v1Rows, "contents restored exactly")
    // METADATA-ONLY: the restored version serves v1's physical files
    assert(plannedFiles(SnapshotTable.read(spark, root)).toSet == v1Files)
    // history preserved: the bad versions stay time-travelable
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L, 3L, 4L))
    assert(canon(root, Some(3L)) != v1Rows)
    assert(SnapshotTable.commitOperation(spark, root, 4L) ==
      "rollback-to-1")

    // rollback to current is a no-op
    assert(SnapshotTable.rollbackTo(spark, root, 4L) == 4L)
    assert(SnapshotTable.versions(spark, root).size == 4)

    // rolling FORWARD again (to the bad v3) is the same primitive
    val fwd = SnapshotTable.rollbackTo(spark, root, 3L)
    assert(fwd == 5L)
    assert(canon(root) == canon(root, Some(3L)))
  }

  test("rollback to an expired version refuses; rollback across a " +
      "schema change restores the old schema") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)                // v1
    SnapshotTable.append(spark, root, nation.limit(2))       // v2
    SnapshotTable.expireSnapshots(spark, root, keep = 1)     // drops v1
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.rollbackTo(spark, root, 1L)
    }
    assert(e.getMessage.contains("not committed"))

    // schema change after v2: append with an extra column evolves the
    // schema; rollback to v2 must serve v2's NARROWER schema
    val widened = nation.limit(1)
      .withColumn("extra", lit(42L))
    SnapshotTable.append(spark, root, widened)               // v4... (v3)
    val narrowCols = SnapshotTable.readVersion(spark, root, 2L)
      .columns.toSeq
    assert(!narrowCols.contains("extra"))
    val wideCols = SnapshotTable.read(spark, root).columns.toSeq
    assert(wideCols.contains("extra"))
    SnapshotTable.rollbackTo(spark, root, 2L)
    assert(SnapshotTable.read(spark, root).columns.toSeq == narrowCols,
      "rollback restores the pre-evolution schema")
  }

  test("SQL surface: CALL graft.system.rollback_to undoes a bad " +
      "INSERT through the catalog") {
    val warehouse =
      java.nio.file.Files.createTempDirectory("graft-rb-cat").toString
    spark.conf.set("spark.sql.catalog.graft_rb",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rb.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_rb.db")
    spark.sql("CREATE TABLE graft_rb.db.rb (k BIGINT)")        // v1
    spark.sql("INSERT INTO graft_rb.db.rb VALUES (1), (2)")    // v2
    spark.sql("INSERT INTO graft_rb.db.rb VALUES (999)")       // v3 bad
    val out = spark.sql(
      "CALL graft_rb.system.rollback_to('db.rb', 2)").head()
    assert(out.getLong(0) == 4L)
    assert(spark.sql("SELECT * FROM graft_rb.db.rb")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("rollbackToTimestamp restores what a live reader saw at that " +
      "instant") {
    val root = tmpRoot()
    val nation = Tables.load(spark, sfDir, "nation")
    SnapshotTable.commit(spark, root, nation)                // v1
    val afterV1 = SnapshotTable.commitTime(spark, root, 1L)
    Thread.sleep(1100) // mtime granularity on the local fs
    SnapshotTable.append(spark, root, nation.limit(3))       // v2
    val v1Rows = canon(root, Some(1L))
    assert(canon(root) != v1Rows, "fixture: v2 diverged")
    val target = SnapshotTable.rollbackToTimestamp(spark, root, afterV1)
    assert(target == 3L)
    assert(canon(root) == v1Rows)
  }

  test("SQL surface: CALL graft.system.rollback_to_timestamp") {
    val warehouse =
      java.nio.file.Files.createTempDirectory("graft-rbt-cat").toString
    spark.conf.set("spark.sql.catalog.graft_rbt",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rbt.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_rbt.db")
    spark.sql("CREATE TABLE graft_rbt.db.rbt (k BIGINT)")       // v1
    spark.sql("INSERT INTO graft_rbt.db.rbt VALUES (1)")        // v2
    val after = SnapshotTable.commitTime(spark,
      s"$warehouse/db/rbt", 2L)
    Thread.sleep(1100)
    spark.sql("INSERT INTO graft_rbt.db.rbt VALUES (999)")      // v3
    val out = spark.sql(
      s"CALL graft_rbt.system.rollback_to_timestamp('db.rbt', $after)")
      .head()
    assert(out.getLong(0) == 4L)
    assert(spark.sql("SELECT * FROM graft_rbt.db.rbt")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("a post-rollback append builds on the restored state; diff " +
      "against the rolled-back version reports the undone rows") {
    val root = tmpRoot()
    val region = Tables.load(spark, sfDir, "region")
    SnapshotTable.commit(spark, root, region)                // v1
    SnapshotTable.append(spark, root,
      region.limit(1).withColumn("r_regionkey", lit(999).cast("int")))  // v2
    SnapshotTable.rollbackTo(spark, root, 1L)                // v3 == v1
    // the undo is visible to the changelog machinery: v2 -> v3 deletes
    // exactly the appended row
    val d = SnapshotTable.diff(spark, root, 2L, 3L)
    assert(d.filter(col("change_type") === "deleted").count() == 1)
    assert(d.filter(col("change_type") === "inserted").count() == 0)
    SnapshotTable.append(spark, root,
      region.limit(1).withColumn("r_regionkey", lit(777).cast("int")))  // v4
    assert(SnapshotTable.read(spark, root).count() ==
      region.count() + 1)
    assert(SnapshotTable.read(spark, root)
      .filter(col("r_regionkey") === 999L).count() == 0,
      "the rolled-back append must not resurface")
  }
}
