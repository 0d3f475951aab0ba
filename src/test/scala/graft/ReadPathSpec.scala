package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** The one read engine: every [[SnapshotTable]] read plans through the
  * `graft-snapshot` scan. These pin what that route must keep — the
  * caller's session, every type the engine writes, the merge-on-read
  * kill inside the scan — and the pruning defects it shares with the
  * connector. */
class ReadPathSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-read").toString + "/t"

  private def connector(root: String) =
    spark.read.format("graft-snapshot").option("path", root).load()

  test("a read plans in the session it was called with: a filesystem " +
      "scheme known only to that session reads back every row") {
    val other = spark.newSession()
    other.conf.set("fs.graftfx.impl", classOf[SchemeLocalFs].getName)
    other.conf.set("fs.graftfx.impl.disable.cache", "true")
    val root = "graftfx://" + tmpRoot()
    val rows = (1 to 300).map(i => (i.toLong, s"v$i"))
    SnapshotTable.append(other,
      root, other.createDataFrame(rows).toDF("k", "v"),
      clusterKey = Some("k"), files = 3)
    SparkSession.setActiveSession(spark)
    assert(SparkSession.active eq spark)
    val got = SnapshotTable.read(other, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == rows)
    val band = SnapshotTable.readWhere(other, root, "k", Some("10"),
      Some("19")).count()
    assert(band == 10L)
  }

  test("tinyint and smallint columns round-trip through read, readWhere " +
      "and the connector, merge-on-read kills included") {
    val root = tmpRoot()
    val df = (0 until 240).map(i =>
      ((i % 120 - 60).toByte, (i * 100 - 9000).toShort, i.toLong))
      .toDF("b", "s", "id")
    SnapshotTable.commit(spark, root, df, clusterKey = Some("b"), files = 4)
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.select("id").as[Long].collect().sorted.toSeq
    assert(ids(SnapshotTable.read(spark, root)) == (0L until 240L))
    assert(SnapshotTable.read(spark, root).schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.LongType))
    val want = df.filter(col("b").between(-5, 5))
    assert(ids(SnapshotTable.readWhere(spark, root, "b", Some("-5"),
      Some("5"))) == ids(want))
    assert(ids(connector(root).filter(col("b").between(-5, 5))) ==
      ids(want))
    assert(ids(connector(root).filter(col("s") === 1000)) ==
      ids(df.filter(col("s") === 1000)))
    // a merge-on-read delete keyed by the smallint column
    val dead = df.filter(col("s") < -8000).select("s")
    SnapshotTable.deleteKeysOnRead(spark, root, dead, "s")
    val live = ids(df.filter(col("s") >= -8000))
    assert(ids(SnapshotTable.read(spark, root)) == live)
    assert(ids(connector(root)) == live)
  }

  test("connector equality on 0.0 keeps a bloom-keyed file that stores " +
      "only -0.0") {
    val root = tmpRoot()
    SnapshotTable.append(spark, root,
      Seq((1L, -0.0), (2L, -0.0)).toDF("id", "d"), bloomKey = Some("d"),
      files = 1)
    SnapshotTable.append(spark, root,
      Seq((3L, 5.0), (4L, 6.0)).toDF("id", "d"), bloomKey = Some("d"),
      files = 1)
    val got = connector(root).filter(col("d") === 0.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("IN endpoints order under the column type, not as doubles") {
    val root = tmpRoot()
    val big = 9007199254740992L // 2^53: +1 is the same double
    SnapshotTable.append(spark, root, Seq(big).toDF("k"),
      clusterKey = Some("k"), files = 1)
    SnapshotTable.append(spark, root, Seq(big + 1).toDF("k"),
      clusterKey = Some("k"), files = 1)
    val got = connector(root).filter(col("k").isin(big + 1, big))
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(big, big + 1))

    val droot = tmpRoot()
    // 36 digits: both endpoints round to one double
    val (lo, hi) = ("123456789012345678901234567890123456",
      "123456789012345678901234567890123457")
    val dt = org.apache.spark.sql.types.DecimalType(38, 0)
    Seq(lo, hi).foreach(v => SnapshotTable.append(spark, droot,
      Seq(v).toDF("k").select(col("k").cast(dt).as("k")),
      clusterKey = Some("k"), files = 1))
    val dgot = connector(droot)
      .filter(col("k").isin(lit(hi).cast(dt), lit(lo).cast(dt)))
      .count()
    assert(dgot == 2L)
  }

  test("a merge-on-read read kills rows inside the scan: no join") {
    val root = tmpRoot()
    val df = (1 to 400).map(i => (i.toLong, i % 7)).toDF("k", "g")
    SnapshotTable.commit(spark, root, df, clusterKey = Some("k"), files = 4)
    SnapshotTable.deleteKeysOnRead(spark, root,
      (1L to 400L by 3).toDF("k"), "k")
    val read = SnapshotTable.read(spark, root)
    val plan = read.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(read.count() == 400L - (1L to 400L by 3).size)
  }
}

/** The local filesystem under its own scheme, `graftfx:` — registered
  * per session through `fs.graftfx.impl`. */
class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfx"
  override def getUri: java.net.URI = java.net.URI.create("graftfx:///")
}
