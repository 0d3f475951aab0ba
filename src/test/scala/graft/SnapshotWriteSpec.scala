package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** DataSource V2 WRITE path (sources/connector/GraftSnapshotWrite):
  * `df.write.format("graft-snapshot")` commits through the same
  * claim/publish CAS protocol as the native API — append lands a new
  * version by reference (prior files untouched), overwrite truncates,
  * written files inherit the table's cluster/bloom layout and stay
  * prunable, and the reader round-trips every supported type. */
class SnapshotWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-dsv2w").toString + "/t"

  private def writeFmt(df: org.apache.spark.sql.DataFrame, root: String) =
    df.write.format("graft-snapshot").option("path", root)

  test("mode(append) lands a CAS append commit: new version, rows " +
      "unioned, every prior data file untouched by path and mtime") {
    val root = tmpRoot()
    val base = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    SnapshotTable.commit(spark, root, base, clusterKey = Some("k"))
    val f = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val before = SnapshotTable.manifest(spark, root, 1L).map(e =>
      e.path -> f.getFileStatus(new Path(root, e.path))
        .getModificationTime).toMap

    val batch = (1001 to 1500).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    writeFmt(batch, root).mode("append").save()

    assert(SnapshotTable.currentVersion(spark, root) == 2L)
    val after = SnapshotTable.manifest(spark, root, 2L)
    // prior files carried by reference: same path, same mtime
    before.foreach { case (p, mtime) =>
      assert(after.exists(_.path == p), s"prior file $p dropped")
      assert(f.getFileStatus(new Path(root, p))
        .getModificationTime == mtime, s"prior file $p rewritten")
    }
    val got = SnapshotTable.read(spark, root)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == (1 to 1500).map(i => (i.toLong, s"row$i")))
  }

  test("written files inherit the table's cluster layout: the write " +
      "requests an ordered distribution, the new files carry min/max " +
      "stats, and a range read prunes them") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 10000).map(i => (i.toLong, i * 1.5)).toDF("k", "x"),
      clusterKey = Some("k"))
    // at this toy size AQE correctly coalesces the requested range
    // shuffle to one partition; hold it open to see the multi-file
    // layout a real batch would land
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    try writeFmt(
      (10001 to 30000).map(i => (i.toLong, i * 1.5)).toDF("k", "x"),
      root).mode("append").save()
    finally spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.enabled", "true")

    val entries = SnapshotTable.manifest(spark, root, 2L)
    val fresh = entries.filter(_.seq == 2L)
    assert(fresh.size > 1, "append should land multiple files")
    assert(fresh.forall(e => e.statsKey.contains("k") &&
      e.lo.isDefined && e.hi.isDefined),
      s"new files must carry cluster-key stats: $fresh")
    // ordered distribution => disjoint ranges across the new files
    val ranges = fresh.map(e => (e.lo.get.toLong, e.hi.get.toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, h1), (l2, _)) =>
        assert(h1 < l2, s"new files overlap: $ranges")
      case _ =>
    }
    // and the read side prunes them: a narrow band on the NEW range
    // opens fewer data files than the table holds
    val pruned = SnapshotTable.readWhere(spark, root, "k",
      Some("25000"), Some("25100"))
    assert(plannedFiles(pruned).length < entries.size)
    assert(pruned.count() == 101)
  }

  test("written files inherit the table's bloom column: a point " +
      "lookup on the secondary key prunes the appended files too") {
    val root = tmpRoot()
    val base = (1 to 20000).map(i => (i.toLong, s"u${i % 1000}"))
      .toDF("k", "user")
    SnapshotTable.commit(spark, root, base, clusterKey = Some("k"),
      bloomKey = Some("user"))
    writeFmt((20001 to 40000).map(i => (i.toLong, s"w${i % 1000}"))
      .toDF("k", "user"), root).mode("append").save()

    val entries = SnapshotTable.manifest(spark, root, 2L)
    assert(entries.filter(_.seq == 2L).forall(e =>
      e.bloomKey.contains("user") && e.bloom.isDefined),
      "appended files must carry the inherited bloom")
    // a key that exists only in the OLD half: blooms skip new files
    val lookup = SnapshotTable.readKeys(spark, root, "user",
      Seq("u7").toDF("user"))
    assert(plannedFiles(lookup).length < entries.size,
      "bloom pruning must skip files that cannot hold the key")
    assert(lookup.count() == base.filter($"user" === "u7").count())
  }

  test("mode(overwrite) truncates: the new version holds only the " +
      "batch, and the prior version stays readable by time travel") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 100).map(i => (i.toLong, "old")).toDF("k", "tag"))
    writeFmt((1 to 5).map(i => (i.toLong, "new")).toDF("k", "tag"),
      root).mode("overwrite").save()

    assert(SnapshotTable.read(spark, root).count() == 5)
    assert(SnapshotTable.read(spark, root)
      .select("tag").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("new"))
    assert(SnapshotTable.readVersion(spark, root, 1L).count() == 100)
  }

  test("the connector reads its own writer's files: strings, doubles, " +
      "dates and timestamps round-trip bit-for-bit vs the native read") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Tables.load(spark, sfDir, "orders").limit(500))
    // append through the V2 writer, then read through the V2 reader
    val more = Tables.load(spark, sfDir, "orders")
      .orderBy(desc("o_orderkey")).limit(500)
    writeFmt(more, root).mode("append").save()

    val viaConnector = spark.read.format("graft-snapshot")
      .option("path", root).load()
      .orderBy("o_orderkey").collect().map(_.toSeq)
    val native = SnapshotTable.read(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq)
    assert(viaConnector.length == native.length)
    viaConnector.zip(native).foreach { case (a, b) =>
      assert(a == b, s"round-trip mismatch: $a vs $b")
    }
  }

  test("nested + binary types round-trip through the V2 writer: " +
      "array<double>, struct, map and binary come back exactly, " +
      "through BOTH the native Spark reader and the connector") {
    val root = tmpRoot()
    val df = (1 to 300).map { i =>
      (i.toLong, Seq(i * 0.5, i * 0.25, -i * 1.0),
        (s"n$i", i % 5), Map(i % 3 -> s"t$i"),
        Array.fill(8)((i % 120).toByte))
    }.toDF("id", "xs", "s", "m", "b")
      .withColumn("s", col("s").cast("struct<name:string,grp:int>"))
    SnapshotTable.createEmpty(spark, root, df.schema)
    writeFmt(df, root).mode("append").save()

    def slurp(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(r => (
        r.getLong(r.fieldIndex("id")),
        r.getSeq[Double](r.fieldIndex("xs")).toVector,
        r.getAs[org.apache.spark.sql.Row]("s") match {
          case s => (s.getString(0), s.getInt(1))
        },
        r.getAs[Map[Int, String]]("m"),
        r.getAs[Array[Byte]]("b").toVector))
    val viaSpark = slurp(SnapshotTable.read(spark, root))
    val viaConnector = slurp(spark.read.format("graft-snapshot")
      .option("path", root).load())
    val expected = (1 to 300).map { i =>
      (i.toLong, Vector(i * 0.5, i * 0.25, -i * 1.0),
        (s"n$i", i % 5), Map(i % 3 -> s"t$i"),
        Array.fill(8)((i % 120).toByte).toVector)
    }
    assert(viaSpark.toSeq == expected,
      "native Spark reader must decode the V2-written nested file")
    assert(viaConnector.toSeq == expected,
      "connector reader must decode its own writer's nested file")
  }

  test("two sequential V2 appends and a native append interleave " +
      "through the same CAS protocol: three versions, nothing lost") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a")).toDF("k", "v"))
    writeFmt(Seq((2L, "b")).toDF("k", "v"), root).mode("append").save()
    SnapshotTable.append(spark, root, Seq((3L, "c")).toDF("k", "v"))
    writeFmt(Seq((4L, "d")).toDF("k", "v"), root).mode("append").save()
    assert(SnapshotTable.currentVersion(spark, root) == 4L)
    assert(SnapshotTable.read(spark, root).orderBy("k")
      .collect().map(_.getString(1)).toSeq == Seq("a", "b", "c", "d"))
  }

  test("stated refusals: a write to an empty root points at " +
      "bootstrap; an unsupported column type fails at plan time") {
    val root = tmpRoot()
    val e1 = intercept[Exception] {
      writeFmt(Seq((1L, "a")).toDF("k", "v"), root)
        .mode("append").save()
    }
    assert(e1.getMessage.contains("bootstrap"),
      s"unexpected: ${e1.getMessage}")
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val e2 = intercept[Exception] {
      writeFmt(Seq((2L, Array(1, 2))).toDF("k", "v"), root)
        .mode("append").save()
    }
    assert(e2.getMessage != null)
  }
}
