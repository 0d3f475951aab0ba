package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Every per-file stat a commit records in the manifest must equal the
  * same stat recomputed from the written parquet by plain DataFrame
  * aggregates grouped by `input_file_name()`: rendered [lo, hi] ranges
  * (`min`/`max` cast to string) on every stats slot, null counts, row
  * counts, byte lengths, bloom bytes (`graft_bloom_sketch`), NDV
  * registers (`graft_hll_sketch`), bucket cells and the tail-key NULL
  * counts of composite identity layouts. The writers compute these
  * while they write; the reference reads the files back. Pinned over
  * the type zoo the stats rendering is sensitive to (strings, ints,
  * doubles, decimals, timestamps, NULLs), every native staging layout
  * and the DSv2 INSERT and copy-on-write MERGE writers. Each layout's
  * set of NDV-sketched columns is asserted explicitly. */
class InlineStatsSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-inline-spec").toString

  private val warehouse = tmp()

  locally {
    spark.conf.set("spark.sql.catalog.graftis",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftis.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftis.db")
  }

  /** What one layout records: the primary stats column, the bloom
    * column, the Z-order partner, the extra range columns (in manifest
    * order), the NDV-sketched columns, the bucket grid and the
    * composite identity tail keys. */
  private case class Layout(statsKey: Option[String] = None,
      bloomKey: Option[String] = None, zKey: Option[String] = None,
      extras: Seq[String] = Nil, ndv: Set[String] = Set.empty,
      grid: Seq[(String, Int)] = Nil, tail: Seq[String] = Nil)

  private def uriPath(s: String): String = new java.net.URI(s).getPath

  /** Asserts every data entry of `root`'s current version against the
    * reference aggregates; returns the entries. */
  private def assertStats(root: String, l: Layout)
  : Seq[SnapshotTable.FileEntry] = {
    graft.functions.GraftFunctions.register(spark)
    val es = SnapshotTable.manifest(spark, root,
      SnapshotTable.currentVersion(spark, root)).filter(_.kind == "d")
    assert(es.nonEmpty, s"no data files at $root")
    val rangeCols =
      (l.statsKey.toSeq ++ l.zKey ++ l.extras ++ l.tail).distinct
    val ndvCols = l.ndv.toSeq.sorted
    val aggs = Seq(count(lit(1)).as("rows")) ++
      rangeCols.zipWithIndex.flatMap { case (c, i) => Seq(
        min(col(c)).cast("string").as(s"lo$i"),
        max(col(c)).cast("string").as(s"hi$i"),
        sum(when(col(c).isNull, 1).otherwise(0)).as(s"nulls$i")) } ++
      l.bloomKey.map(b =>
        expr(s"graft_bloom_sketch(`$b`, 50000, 2)").as("bloom")) ++
      ndvCols.zipWithIndex.map { case (c, i) =>
        expr(s"graft_hll_sketch(`$c`, 9)").as(s"ndv$i") } ++
      (if (l.grid.isEmpty) Nil
      else Seq(min(SnapshotTable.gridCell(l.grid)).as("cellLo"),
        max(SnapshotTable.gridCell(l.grid)).as("cellHi")))
    val ref = spark.read
      .parquet(es.map(e => new Path(root, e.path).toString): _*)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map(r => uriPath(r.getAs[String]("f")) -> r).toMap
    assert(ref.size == es.size, s"${ref.size} files read, ${es.size} listed")
    es.foreach { e =>
      val file = new Path(root, e.path)
      val r = ref(file.toUri.getPath)
      def range(c: String): (Option[String], Option[String], Long) = {
        val i = rangeCols.indexOf(c)
        (Option(r.getAs[String](s"lo$i")), Option(r.getAs[String](s"hi$i")),
          r.getAs[Long](s"nulls$i"))
      }
      val at = s"${e.path}: $e"
      assert(e.rows.contains(r.getAs[Long]("rows")), at)
      assert(e.bytes.contains(new java.io.File(file.toUri.getPath).length),
        at)
      l.statsKey match {
        case Some(k) =>
          val (lo, hi, nulls) = range(k)
          assert(e.statsKey.contains(k) && e.lo == lo && e.hi == hi &&
            e.statsNulls.contains(nulls), at)
        case None =>
          assert(e.statsKey.isEmpty && e.lo.isEmpty && e.hi.isEmpty &&
            e.statsNulls.isEmpty, at)
      }
      l.zKey match {
        case Some(z) =>
          val (lo, hi, _) = range(z)
          assert(e.statsKey2.contains(z) && e.lo2 == lo && e.hi2 == hi, at)
        case None => assert(e.statsKey2.isEmpty && e.lo2.isEmpty, at)
      }
      val extras = l.extras.flatMap { k =>
        val (lo, hi, _) = range(k)
        for (a <- lo; b <- hi) yield (k, a, b)
      }
      val cell = l.grid.headOption.map { _ =>
        val (lo, hi) = (r.getAs[Int]("cellLo"), r.getAs[Int]("cellHi"))
        assert(lo == hi, s"$at holds rows of cells $lo..$hi")
        (("__bucket", lo.toString, lo.toString))
      }
      assert(e.extraStats.filterNot(_._1.startsWith("__txn")) ==
        extras ++ cell, at)
      assert(e.bloomKey == l.bloomKey, at)
      assert(e.bloom.map(_.toSeq) ==
        l.bloomKey.map(_ => r.getAs[Array[Byte]]("bloom").toSeq), at)
      assert(e.ndv.map(_._1).toSet == l.ndv,
        s"$at sketches ${e.ndv.map(_._1)}, expected ${l.ndv}")
      ndvCols.zipWithIndex.foreach { case (c, i) =>
        assert(e.ndv.toMap.apply(c).toSeq ==
          r.getAs[Array[Byte]](s"ndv$i").toSeq, s"$at NDV of $c") }
      assert(e.colNulls == l.tail.map(c => c -> range(c)._3), at)
    }
    es
  }

  private def zoo: DataFrame =
    spark.range(0, 1000).select(
      col("id"),
      (col("id") % 97).as("k"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise(concat(lit("s"), col("id") % 37)).as("s"),
      (col("id") * 1.5 - 200).as("d"),
      col("id").cast("decimal(12,2)").as("m"),
      timestamp_seconds(col("id") * 3600).as("ts"))

  test("clustered commit: every stat matches the written files") {
    val root = tmp()
    SnapshotTable.commit(spark, root, zoo, clusterKey = Some("k"))
    val es = assertStats(root, Layout(Some("k"), ndv = Set("k")))
    assert(es.size > 1)
  }

  test("clustered commit on each stat-sensitive type") {
    Seq("s", "d", "m", "ts").foreach { c =>
      val root = tmp()
      SnapshotTable.commit(spark, root, zoo, clusterKey = Some(c),
        files = 4)
      assertStats(root, Layout(Some(c), ndv = Set(c)))
    }
  }

  test("bloom + cluster commit: identical filter bytes") {
    val root = tmp()
    SnapshotTable.commit(spark, root, zoo, clusterKey = Some("k"),
      bloomKey = Some("s"))
    assertStats(root, Layout(Some("k"), bloomKey = Some("s"),
      ndv = Set("k", "s")))
  }

  test("z-ordered commit: both curve columns' boxes match") {
    val root = tmp()
    SnapshotTable.commitZOrdered(spark, root, zoo, "k", "d")
    assertStats(root, Layout(Some("k"), zKey = Some("d"),
      ndv = Set("k", "d")))
  }

  test("plain commit (no stats columns): entries carry rows + bytes") {
    val root = tmp()
    SnapshotTable.commit(spark, root, zoo)
    assertStats(root, Layout())
  }

  test("bucketed grid commit: per-cell files, ranges, NDV match") {
    val root = tmp()
    SnapshotTable.commitBucketedOn(spark, root, zoo,
      Seq(("k", 4), ("s", 3)))
    assertStats(root, Layout(Some("k"), extras = Seq("s"),
      ndv = Set("k", "s"), grid = Seq(("k", 4), ("s", 3))))
  }

  test("identity-partitioned commit: value-pure files match") {
    val root = tmp()
    val df = zoo.withColumn("day",
      concat(lit("d"), col("id") % 5)).filter(col("s").isNotNull)
    SnapshotTable.commitPartitionedOn(spark, root, df, Seq("day", "s"))
    val es = assertStats(root, Layout(Some("day"), extras = Seq("s"),
      ndv = Set("day", "s"), tail = Seq("s")))
    assert(es.forall(e => e.lo == e.hi))
  }

  test("SQL INSERT into a bucketed table: the DSv2 writer's stats " +
      "match") {
    spark.sql("CREATE TABLE graftis.db.ins (id BIGINT, k BIGINT, " +
      "s STRING, d DOUBLE, m DECIMAL(12,2), ts TIMESTAMP) " +
      "PARTITIONED BY (bucket(4, k), bucket(3, id))")
    zoo.createOrReplaceTempView("inline_zoo")
    spark.sql("INSERT INTO graftis.db.ins SELECT * FROM inline_zoo")
    assertStats(s"$warehouse/db/ins", Layout(Some("k"),
      extras = Seq("id"), ndv = Set("k", "id"),
      grid = Seq(("k", 4), ("id", 3))))
  }

  test("copy-on-write MERGE: rewritten and carried files match") {
    spark.sql("CREATE TABLE graftis.db.mrg (id BIGINT, k BIGINT, " +
      "s STRING, d DOUBLE, m DECIMAL(12,2), ts TIMESTAMP)")
    val root = s"$warehouse/db/mrg"
    SnapshotTable.append(spark, root, zoo, clusterKey = Some("k"),
      files = 4)
    val before = SnapshotTable.currentVersion(spark, root)
    zoo.filter(col("id") < 40).withColumn("d", lit(-1.0))
      .union(zoo.filter(col("id") < 5)
        .withColumn("id", col("id") + 5000))
      .createOrReplaceTempView("inline_mrg_src")
    spark.sql(
      """MERGE INTO graftis.db.mrg t USING inline_mrg_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(SnapshotTable.currentVersion(spark, root) == before + 1)
    assert(spark.table("graftis.db.mrg").count() == 1005)
    assertStats(root, Layout(Some("k"), ndv = Set("k")))
  }

  test("empty batch stages a readable empty segment") {
    val root = tmp() + "/empty"
    SnapshotTable.commit(spark, root, zoo.filter(lit(false)),
      clusterKey = Some("k"))
    val out = SnapshotTable.read(spark, root)
    assert(out.count() == 0L && out.schema.fieldNames.contains("ts"))
  }
}
