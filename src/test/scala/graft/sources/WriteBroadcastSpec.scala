package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.storage.BroadcastBlockId
import graft.SparkSpec

/** Every write job destroys the Hadoop-conf broadcast its tasks read
  * when the job ends, on every commit path: native clustered append,
  * identity-partitioned and bucketed staging, SQL INSERT, and the
  * copy-on-write and merge-on-read row-level writes. A broadcast left
  * to the context cleaner lives until a garbage collection happens to
  * reach it, so a long-lived session holds one per commit meanwhile.
  *
  * Broadcast blocks are tracked from the driver's block updates (the
  * way perfbench's ledger counts them). Totals are no measure here:
  * every stage also broadcasts its task binary, and those go only
  * when a GC collects the stage, so the live count swings with GC
  * timing. What is deterministic is that a destroyed broadcast is
  * created AND removed within its operation; anything else the
  * operation creates is released within it only when a GC happens to
  * run in that window. */
class WriteBroadcastSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-bcast").toString

  locally {
    spark.conf.set("spark.sql.catalog.graftbc",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftbc.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftbc.db")
  }

  // broadcast ids whose pieces were stored / removed since the last
  // reset, and a count of all broadcast block events
  private val created = ConcurrentHashMap.newKeySet[Long]()
  private val removed = ConcurrentHashMap.newKeySet[Long]()
  private val events = new AtomicLong()
  private val listener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case b: BroadcastBlockId =>
          if (e.blockUpdatedInfo.storageLevel.isValid)
            created.add(b.broadcastId)
          else removed.add(b.broadcastId)
          events.incrementAndGet()
        case _ => ()
      }
  }

  /** Waits until no broadcast block event has arrived for 600 ms. */
  private def settle(): Unit = {
    var seen = events.get
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(200)
      val now = events.get
      if (now == seen) quiet += 1 else { quiet = 0; seen = now }
    }
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-bcast-t").toString

  test("every commit path releases its write job's conf broadcast " +
      "before it returns, round after round") {
    val batch = (1 to 2000).map(i => (i.toLong, i % 7, s"s$i"))
      .toDF("k", "p", "s")
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
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)))
    spark.sparkContext.addSparkListener(listener)
    val kept = try (1 to 5).flatMap { round =>
      ops.flatMap { case (name, run) =>
        settle()
        created.clear()
        removed.clear()
        run(round)
        // released = created and removed within the operation; removal
        // is asynchronous, so give its block update time to arrive
        def released = (created.asScala & removed.asScala).nonEmpty
        val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
        while (!released && System.nanoTime() < deadline) Thread.sleep(100)
        if (released) None
        else Some(s"round $round, $name kept all of " +
          created.asScala.toSeq.sorted.mkString("{", ", ", "}"))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(kept.isEmpty, kept.mkString("\n"))
    assert(spark.table("graftbc.db.ins").count() == 5)
  }
}
