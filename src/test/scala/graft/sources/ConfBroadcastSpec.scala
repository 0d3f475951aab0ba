package graft.sources

import graft.SparkSpec
import graft.sources.connector.SessionHadoopConf

/** One Hadoop-conf broadcast per session: every commit path (native
  * clustered append, identity-partitioned and bucketed staging, SQL
  * INSERT, the copy-on-write and merge-on-read row-level writes) and
  * every read (a native read, a `graft-snapshot` read) ships the
  * session's one broadcast, and a new one is minted only when the
  * session's settings or the context's Hadoop conf change, or for a
  * new session. Counted by the holder's mint counter, which, unlike
  * broadcast block totals, does not move with GC timing. */
class ConfBroadcastSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-bcast").toString

  locally {
    spark.conf.set("spark.sql.catalog.graftbc",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftbc.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftbc.db")
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-bcast-t").toString

  /** Conf broadcasts minted while `body` runs. */
  private def minted(body: => Unit): Long = {
    val m0 = SessionHadoopConf.mints
    body
    SessionHadoopConf.mints - m0
  }

  private def batch = (1 to 2000).map(i => (i.toLong, i % 7, s"s$i"))
    .toDF("k", "p", "s")

  test("warmed commits and reads mint no conf broadcast") {
    val clustered = tmp()
    val partitioned = tmp()
    val bucketed = tmp()
    SnapshotTable.commitBucketed(spark, bucketed, batch, "k", 4)
    spark.sql("CREATE TABLE graftbc.db.ins (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE graftbc.db.cow (k BIGINT, v DOUBLE)")
    spark.sql(
      """CREATE TABLE graftbc.db.mor (k BIGINT, v DOUBLE)
        |TBLPROPERTIES ('write.mode'='merge-on-read',
        |  'write.merge.key'='k')""".stripMargin)
    Seq("cow", "mor").foreach(t =>
      SnapshotTable.append(spark, s"$warehouse/db/$t",
        (1 to 2000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"),
        clusterKey = Some("k"), files = 4))
    Seq((1L, -1.0), (3001L, 1.0)).toDF("k", "v")
      .createOrReplaceTempView("bc_src")
    val ops: Seq[(String, Int => Unit)] = Seq(
      "native clustered append" -> (_ => SnapshotTable.append(spark,
        clustered, batch, clusterKey = Some("k"), files = 2)),
      "commitPartitionedOn" -> (_ => SnapshotTable.commitPartitionedOn(
        spark, partitioned, batch, Seq("p"))),
      "appendBucketed" -> (_ =>
        SnapshotTable.appendBucketed(spark, bucketed, batch)),
      "SQL INSERT" -> (round =>
        spark.sql(s"INSERT INTO graftbc.db.ins VALUES ($round, 1.0)")),
      "COW UPDATE" -> (round =>
        spark.sql(s"UPDATE graftbc.db.cow SET v = $round WHERE k < 10")),
      "MOR MERGE" -> (_ => spark.sql(
        """MERGE INTO graftbc.db.mor t USING bc_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)),
      "native read" -> (_ =>
        SnapshotTable.read(spark, clustered).collect()),
      "graft-snapshot read" -> (_ => spark.read.format("graft-snapshot")
        .option("path", partitioned).load().filter($"k" < 100).collect()))
    val perRound = (1 to 5).map(round =>
      ops.map { case (name, run) => name -> minted(run(round)) })
    val extra = perRound.zipWithIndex.drop(1).flatMap { case (ms, i) =>
      ms.collect { case (name, n) if n != 0 =>
        s"round ${i + 1}, $name minted $n" }
    }
    assert(extra.isEmpty, extra.mkString("\n"))
    assert(spark.table("graftbc.db.ins").count() == 5)
    assert(SnapshotTable.read(spark, clustered).count() == 5 * 2000)
  }

  test("a Hadoop key set on the session or the context mints one") {
    val root = tmp()
    def roundTrip(): Unit = {
      SnapshotTable.append(spark, root, batch, clusterKey = Some("k"))
      SnapshotTable.read(spark, root).collect()
    }
    roundTrip()
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "graft.spec.conf.marker"
    try {
      val onSession = minted {
        spark.conf.set(key, "session")
        roundTrip()
        roundTrip()
      }
      assert(onSession == 1)
      assert(SessionHadoopConf.broadcast(spark).value.value.get(key) ==
        "session")
      spark.conf.unset(key)
      roundTrip()
      val onContext = minted {
        hc.set(key, "context")
        roundTrip()
        roundTrip()
      }
      assert(onContext == 1)
      assert(SessionHadoopConf.conf(spark).get(key) == "context")
    } finally {
      spark.conf.unset(key)
      hc.unset(key)
    }
  }

  test("a new session gets its own conf broadcast") {
    val root = tmp()
    SnapshotTable.append(spark, root, batch, clusterKey = Some("k"))
    val mine = SessionHadoopConf.broadcast(spark)
    val other = spark.newSession()
    val n = minted {
      SnapshotTable.read(other, root).collect()
      SnapshotTable.read(other, root).collect()
    }
    assert(n == 1)
    assert(SessionHadoopConf.broadcast(other).id != mine.id)
    assert(SessionHadoopConf.broadcast(spark).id == mine.id)
  }
}
