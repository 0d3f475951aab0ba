package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** DSv2 row-level operations (sources/connector/GraftRowLevel):
  * SQL UPDATE and MERGE INTO against snapshot tables through the
  * group-based copy-on-write rewrite — the scan records exactly the
  * files it planned, the write's commit swaps precisely those for the
  * rewritten output, every other file carries by reference. */
class RowLevelSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-rl").toString

  locally {
    spark.conf.set("spark.sql.catalog.graftrl",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrl.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftrl.db")
  }

  private def mtimes(root: String, v: Long): Map[String, Long] =
    SnapshotTable.manifest(spark, root, v).map { e =>
      e.path -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$root/${e.path}")).toMillis
    }.toMap

  test("SQL UPDATE rewrites only the files whose stats intersect the " +
      "condition; every other file carries by path+mtime identity; " +
      "prior versions still time-travel to the old values") {
    spark.sql("CREATE TABLE graftrl.db.upd (k BIGINT, v DOUBLE)")
    val root = s"$warehouse/db/upd"
    SnapshotTable.append(spark, root,
      (1 to 8000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 8)                       // v2
    val before = SnapshotTable.manifest(spark, root, 2L)
    assert(before.size == 8)
    val mt = mtimes(root, 2L)
    // a condition confined to ONE file's key range
    val f0 = before.minBy(_.lo.get.toLong)
    val (lo, hi) = (f0.lo.get.toLong, f0.hi.get.toLong)

    spark.sql(
      s"UPDATE graftrl.db.upd SET v = -1.0 WHERE k BETWEEN $lo AND $hi")

    assert(SnapshotTable.currentVersion(spark, root) == 3L)
    // semantics: exactly the matching rows changed, none lost
    assert(spark.table("graftrl.db.upd").count() == 8000)
    assert(spark.sql(
      "SELECT count(*) FROM graftrl.db.upd WHERE v = -1.0")
      .head().getLong(0) == hi - lo + 1)
    assert(spark.sql(
      s"SELECT count(*) FROM graftrl.db.upd WHERE k > $hi AND v < 0")
      .head().getLong(0) == 0)
    // IO: the 7 non-intersecting files carried untouched
    val after = SnapshotTable.manifest(spark, root, 3L)
    val carried = after.filter(e => mt.contains(e.path))
    assert(carried.size == before.size - 1,
      s"expected exactly one file replaced; carried=${carried.size}")
    carried.foreach(e => assert(
      mt(e.path) == java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$root/${e.path}")).toMillis,
      s"carried file ${e.path} was rewritten"))
    // layout: replacement files keep the cluster key's stats, so
    // range pruning survives the row-level commit
    after.filterNot(e => mt.contains(e.path)).foreach(e =>
      assert(e.statsKey.contains("k") && e.rows.isDefined,
        s"replacement file ${e.path} lost the table layout"))
    // prior version still reads the pre-update values
    assert(spark.sql(
      "SELECT count(*) FROM graftrl.db.upd VERSION AS OF 2 " +
        "WHERE v = -1.0").head().getLong(0) == 0)
  }

  test("SQL MERGE INTO: matched rows update, unmatched rows insert, " +
      "untouched files carry by reference (runtime group filtering " +
      "prunes the rewrite set at file granularity)") {
    spark.sql("CREATE TABLE graftrl.db.mrg (k BIGINT, v DOUBLE)")
    val root = s"$warehouse/db/mrg"
    SnapshotTable.append(spark, root,
      (1 to 8000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 8)                       // v2
    val mt = mtimes(root, 2L)
    // updates confined to the low key range + brand-new keys
    ((1 to 10).map(i => (i.toLong, -1.0)) ++
      Seq((9001L, 1.0), (9002L, 2.0)))
      .toDF("k", "v").createOrReplaceTempView("mrg_src")

    spark.sql(
      """MERGE INTO graftrl.db.mrg t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    assert(spark.table("graftrl.db.mrg").count() == 8002)
    assert(spark.sql(
      "SELECT count(*) FROM graftrl.db.mrg WHERE v = -1.0")
      .head().getLong(0) == 10)
    assert(spark.sql(
      "SELECT v FROM graftrl.db.mrg WHERE k = 9002")
      .head().getDouble(0) == 2.0)
    // group pruning: at least the key-disjoint majority of files
    // carried untouched (the source touches keys 1..10 + inserts)
    val after = SnapshotTable
      .manifest(spark, root, SnapshotTable.currentVersion(spark, root))
    val carried = after.filter(e => mt.contains(e.path))
    assert(carried.nonEmpty,
      "MERGE rewrote every file — group filtering never pruned")
    carried.foreach(e => assert(
      mt(e.path) == java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$root/${e.path}")).toMillis,
      s"carried file ${e.path} was rewritten"))
  }

  test("MERGE INTO with NOT MATCHED BY SOURCE deletes the rows no " +
      "source key covers") {
    spark.sql("CREATE TABLE graftrl.db.nbs (k BIGINT, v DOUBLE)")
    spark.sql(
      "INSERT INTO graftrl.db.nbs VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    Seq((2L, 20.0), (4L, 40.0)).toDF("k", "v")
      .createOrReplaceTempView("nbs_src")
    spark.sql(
      """MERGE INTO graftrl.db.nbs t USING nbs_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.table("graftrl.db.nbs").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((2L, 20.0), (4L, 40.0)))
  }

  test("row-level UPDATE composes with merge-on-read state: the scan " +
      "reads through tombstones, so replacement files materialize the " +
      "merged rows and deleted keys stay deleted") {
    spark.sql("CREATE TABLE graftrl.db.morrl (k BIGINT, v DOUBLE)")
    val root = s"$warehouse/db/morrl"
    SnapshotTable.append(spark, root,
      (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 4)                       // v2
    // MOR update: k<=100 get v=0.5 via batch+tombstone (no COW)
    SnapshotTable.mergeOnRead(spark, root,
      (1 to 100).map(i => (i.toLong, 0.5)).toDF("k", "v"), "k") // v3
    // MOR delete: k in 900..1000 via tombstone only
    SnapshotTable.deleteKeysOnRead(spark, root,
      (900 to 1000).map(_.toLong).toDF("k"), "k")               // v4

    spark.sql("UPDATE graftrl.db.morrl SET v = -1.0 WHERE v = 0.5")

    val got = spark.table("graftrl.db.morrl")
    assert(got.count() == 899) // 1000 - 101 deleted
    assert(got.filter(col("v") === -1.0).count() == 100)
    assert(got.filter(col("v") === 0.5).count() == 0)
    // deleted keys did not resurrect through the rewrite
    assert(got.filter(col("k") >= 900).count() == 0)
  }

  test("SELECT _file exposes the per-row data file as a metadata " +
      "column (hidden from SELECT *), and groups rows exactly by " +
      "manifest entry") {
    spark.sql("CREATE TABLE graftrl.db.mf (k BIGINT, v DOUBLE)")
    val root = s"$warehouse/db/mf"
    SnapshotTable.append(spark, root,
      (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 4)                       // v2
    // hidden: star expansion must NOT include _file
    assert(spark.table("graftrl.db.mf").schema.fieldNames.toSeq ==
      Seq("k", "v"))
    val perFile = spark.sql(
      "SELECT _file, count(*) AS n FROM graftrl.db.mf GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val manifest = SnapshotTable.manifest(spark, root, 2L)
    assert(perFile.size == manifest.size)
    manifest.foreach { e =>
      val hit = perFile.find(_._1.endsWith(e.path)).map(_._2)
      assert(hit.contains(e.rows.get),
        s"${e.path}: _file count $hit != footer ${e.rows}")
    }
  }

  test("merge-on-read SQL UPDATE (write.update.mode TBLPROPERTIES): " +
      "the commit appends only the batch + a key tombstone — zero " +
      "prior files opened or rewritten — and reads merge correctly") {
    spark.sql(
      """CREATE TABLE graftrl.db.morsql (k BIGINT, v DOUBLE)
        |TBLPROPERTIES ('write.update.mode'='merge-on-read',
        |  'write.merge.key'='k')""".stripMargin)
    val root = s"$warehouse/db/morsql"
    SnapshotTable.append(spark, root,
      (1 to 8000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 8)                       // v2
    val before = SnapshotTable.manifest(spark, root, 2L)
    val mt = mtimes(root, 2L)

    spark.sql(
      "UPDATE graftrl.db.morsql SET v = -1.0 WHERE k % 1000 = 1")

    val v3 = SnapshotTable.currentVersion(spark, root)
    val after = SnapshotTable.manifest(spark, root, v3)
    // EVERY prior data file carries over by reference (O(batch) commit
    // even though the update keys span every file's range — the case
    // where copy-on-write rewrites the whole table)
    before.foreach { e =>
      assert(after.exists(a => a.path == e.path && a.kind == "d"),
        s"prior file ${e.path} missing after MOR update")
      assert(mt(e.path) == java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$root/${e.path}")).toMillis,
        s"MOR update rewrote prior file ${e.path}")
    }
    assert(after.exists(_.kind == "t"), "no tombstone committed")
    // read-side merge: updated keys show the new value exactly once
    val got = spark.table("graftrl.db.morsql")
    assert(got.count() == 8000)
    assert(got.filter(col("v") === -1.0).count() == 8)
    assert(got.filter(col("k") === 1001L).head().getDouble(1) == -1.0)
    // time travel still sees the pre-update values
    assert(spark.sql(
      "SELECT count(*) FROM graftrl.db.morsql VERSION AS OF 2 " +
        "WHERE v = -1.0").head().getLong(0) == 0)
    // compaction materializes the merge and clears the tombstones
    SnapshotTable.compact(spark, root)
    val compacted = spark.table("graftrl.db.morsql")
    assert(compacted.count() == 8000)
    assert(compacted.filter(col("v") === -1.0).count() == 8)
  }

  test("merge-on-read SQL MERGE INTO and DELETE: tombstone-only " +
      "delete commits (zero data files), inserts land as data files, " +
      "and last-writer-wins holds across the sequence rule") {
    spark.sql(
      """CREATE TABLE graftrl.db.mormrg (k BIGINT, v DOUBLE)
        |TBLPROPERTIES ('write.mode'='merge-on-read',
        |  'write.merge.key'='k')""".stripMargin)
    val root = s"$warehouse/db/mormrg"
    SnapshotTable.append(spark, root,
      (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 4)                       // v2
    val mt = mtimes(root, 2L)

    Seq((1L, -1.0), (2L, -2.0), (2001L, 1.0)).toDF("k", "v")
      .createOrReplaceTempView("mormrg_src")
    spark.sql(
      """MERGE INTO graftrl.db.mormrg t USING mormrg_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val got = spark.table("graftrl.db.mormrg")
    assert(got.count() == 1001)
    assert(got.filter(col("k") === 1L).head().getDouble(1) == -1.0)
    assert(got.filter(col("k") === 2001L).head().getDouble(1) == 1.0)
    // prior files untouched
    mt.foreach { case (p, t) =>
      assert(t == java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$root/$p")).toMillis,
        s"MOR merge rewrote prior file $p")
    }

    // untranslatable DELETE on a MOR table: a tombstone-ONLY commit
    val vBefore = SnapshotTable.currentVersion(spark, root)
    val dataBefore = SnapshotTable
      .manifest(spark, root, vBefore).count(_.kind == "d")
    spark.sql("DELETE FROM graftrl.db.mormrg WHERE k % 2 = 0")
    val vAfter = SnapshotTable.currentVersion(spark, root)
    assert(vAfter == vBefore + 1)
    val manAfter = SnapshotTable.manifest(spark, root, vAfter)
    assert(manAfter.count(_.kind == "d") == dataBefore,
      "a MOR delete must add no data files")
    val after = spark.table("graftrl.db.mormrg")
    // survivors: odd keys 1..999 (500) + 2001; key 2 (even) deleted
    assert(after.count() == 501)
    assert(after.filter(col("k") % 2 === 0).count() == 0)
    assert(after.filter(col("k") === 1L).head().getDouble(1) == -1.0)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source's extra column " +
      "through a metadata-only commit: old files read NULL for it " +
      "and carry by reference, touched rows get the new value") {
    spark.sql("CREATE TABLE graftrl.db.evo (k BIGINT, v DOUBLE)")
    val root = s"$warehouse/db/evo"
    SnapshotTable.append(spark, root,
      (1 to 8000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 8)                       // v2
    val mt = mtimes(root, 2L)
    // source carries a column the target lacks
    (Seq((1L, -1.0, "upd"), (9001L, 1.0, "new")))
      .toDF("k", "v", "tag").createOrReplaceTempView("evo_src")

    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graftrl.db.evo t
        |USING evo_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    // schema evolved: tag is now a (nullable) table column
    val got = spark.table("graftrl.db.evo")
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "tag"))
    assert(got.count() == 8001)
    assert(got.filter(col("k") === 1L).head().getString(2) == "upd")
    assert(got.filter(col("k") === 9001L).head().getString(2) == "new")
    // every untouched row reads NULL for the evolved column
    assert(got.filter(col("tag").isNull).count() == 7999)
    // the evolution commit is metadata-only + group rewrite: the
    // key-disjoint files carried untouched despite the schema change
    val v = SnapshotTable.currentVersion(spark, root)
    val after = SnapshotTable.manifest(spark, root, v)
    val carried = after.filter(e => mt.contains(e.path))
    assert(carried.nonEmpty,
      "schema evolution rewrote every file — old files must be " +
        "readable under the evolved schema without rewrite")
    carried.foreach(e => assert(
      mt(e.path) == java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$root/${e.path}")).toMillis,
      s"carried file ${e.path} was rewritten"))
    // the pre-evolution version still reads the 2-column schema
    assert(spark.sql(
      "SELECT * FROM graftrl.db.evo VERSION AS OF 2")
      .schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("MERGE WITH SCHEMA EVOLUTION on a merge-on-read table: the " +
      "evolved column lands via O(batch) delta commit — zero prior " +
      "files rewritten — and the read merges NULL for old rows") {
    spark.sql(
      """CREATE TABLE graftrl.db.morevo (k BIGINT, v DOUBLE)
        |TBLPROPERTIES ('write.mode'='merge-on-read',
        |  'write.merge.key'='k')""".stripMargin)
    val root = s"$warehouse/db/morevo"
    SnapshotTable.append(spark, root,
      (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 4)                       // v2
    val mt = mtimes(root, 2L)
    Seq((7L, -7.0, "seven"), (2001L, 1.0, "fresh"))
      .toDF("k", "v", "tag").createOrReplaceTempView("morevo_src")

    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graftrl.db.morevo t
        |USING morevo_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val got = spark.table("graftrl.db.morevo")
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "tag"))
    assert(got.count() == 1001)
    assert(got.filter(col("k") === 7L).head().getString(2) == "seven")
    assert(got.filter(col("k") === 7L).head().getDouble(1) == -7.0)
    assert(got.filter(col("tag").isNotNull).count() == 2)
    // MOR contract survives evolution: no prior file read or rewritten
    mt.foreach { case (p, t) =>
      assert(t == java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$root/$p")).toMillis,
        s"MOR schema-evolution merge rewrote prior file $p")
    }
    // compaction materializes the merged 3-column state
    SnapshotTable.compact(spark, root)
    val compacted = spark.table("graftrl.db.morevo")
    assert(compacted.count() == 1001)
    assert(compacted.filter(col("k") === 7L).head().getString(2)
      == "seven")
  }

  test("an UPDATE whose condition matches nothing prunes every group " +
      "and publishes NO version") {
    spark.sql("CREATE TABLE graftrl.db.noop (k BIGINT, v DOUBLE)")
    val root = s"$warehouse/db/noop"
    SnapshotTable.append(spark, root,
      (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
      clusterKey = Some("k"), files = 4)                       // v2
    val v = SnapshotTable.currentVersion(spark, root)
    spark.sql("UPDATE graftrl.db.noop SET v = -1.0 WHERE k > 5000")
    assert(SnapshotTable.currentVersion(spark, root) == v,
      "a no-op UPDATE minted a version")
    assert(spark.table("graftrl.db.noop").filter(col("v") < 0)
      .count() == 0)
  }

  test("a copy-on-write rewrite writes with the session Hadoop conf: " +
      "with tiny parquet row groups set on the session, every " +
      "rewritten file carries many row groups") {
    spark.sql("CREATE TABLE graftrl.db.rowgroups (k BIGINT, v STRING)")
    val root = s"$warehouse/db/rowgroups"
    SnapshotTable.append(spark, root,
      (1 to 200000).map(i => (i.toLong, s"pad_pad_pad_pad_$i"))
        .toDF("k", "v"),
      clusterKey = Some("k"), files = 2)
    val before = SnapshotTable.manifest(spark, root, 2L).map(_.path).toSet
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try spark.sql(
      "UPDATE graftrl.db.rowgroups SET v = concat(v, '_x') WHERE k <= 1000")
    finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val rewritten = SnapshotTable.manifest(spark, root,
      SnapshotTable.currentVersion(spark, root))
      .filterNot(e => before.contains(e.path))
    assert(rewritten.nonEmpty && rewritten.forall(_.rows.exists(_ > 10000)))
    rewritten.foreach { e =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(root, e.path), hc))
      val groups = try r.getRowGroups.size finally r.close()
      assert(groups > 1,
        s"${e.path} has $groups row group(s): the session's " +
          "parquet.block.size did not reach the rewrite task")
    }
    assert(spark.table("graftrl.db.rowgroups")
      .filter(col("v").endsWith("_x")).count() == 1000)
  }
}
