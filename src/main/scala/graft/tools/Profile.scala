package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerBlockUpdated, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BroadcastBlockId

/** Dev tooling: run a named SparkEntry query under a counting listener
  * and print jobs / stages / tasks / shuffle bytes / codegen compiles
  * / Hadoop-conf broadcasts minted during the query (0 once the
  * session's one is built) / broadcasts still live at query end (a
  * GC-dependent total: task binaries go only when a GC collects their
  * stage) — the job-count evidence the
  * optimization guide asks for on commit-heavy paths, where the
  * serving plan alone cannot show the work that no longer happens
  * (staging passes, classification jobs, recompiled generated
  * classes).
  *
  * Usage: runMain graft.tools.Profile <queryName> [sfDir]
  */
object Profile {
  import scala.jdk.CollectionConverters._

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: Profile <queryName> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = math.min(32, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val tasks = new AtomicInteger()
    val shufW = new AtomicLong()
    val shufR = new AtomicLong()
    // per-job timeline: (start, end, description) — end from the last
    // stage completion of the job is approximated by jobEnd time
    val timeline = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, Long, String)]()
    // driver-visible broadcast pieces -> broadcast id, from block updates
    val pieces = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val d = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        timeline.put(j.jobId, (j.time, 0L, d.take(90)))
      }
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val v = timeline.get(j.jobId)
        if (v != null) timeline.put(j.jobId, (v._1, j.time, v._3))
      }
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit =
        b.blockUpdatedInfo.blockId match {
          case id: BroadcastBlockId =>
            if (b.blockUpdatedInfo.storageLevel.isValid)
              pieces.put(id.name, id.broadcastId)
            else pieces.remove(id.name)
          case _ => ()
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    // warmup scans so table-load footer work is not charged to the query
    graft.Tables.names.foreach { n =>
      try graft.Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    Thread.sleep(500)
    jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0); shufR.set(0)
    timeline.clear()
    // Janino compiles, driver and local executors alike: JVM-wide, so
    // read as a delta around the query
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiles0 = compiles.getCount
    import graft.sources.connector.SessionHadoopConf
    val mints0 = SessionHadoopConf.mints
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    // let straggler listener events drain before reading the counters
    Thread.sleep(1000)
    println(f"[profile] $name sec=$sec%.2f jobs=${jobs.get} " +
      f"stages=${stages.get} tasks=${tasks.get} " +
      f"shuffle_write=${shufW.get} shuffle_read=${shufR.get} " +
      f"compiles=${compiles.getCount - compiles0} " +
      f"confBroadcasts=${SessionHadoopConf.mints - mints0} " +
      f"broadcasts=${pieces.values.asScala.toSet.size}")
    // timeline with inter-job driver gaps (the time no job was running)
    val tl = timeline.asScala.toSeq.sortBy(_._2._1)
    var prevEnd = wall0
    var gapTotal = 0L
    var runTotal = 0L
    tl.foreach { case (id, (st, en, d)) =>
      val gap = math.max(0L, st - prevEnd)
      gapTotal += gap
      val dur = if (en > 0) en - st else 0L
      runTotal += dur
      println(f"[job] #$id%-4d +${(st - wall0) / 1000.0}%7.2fs " +
        f"gap=${gap / 1000.0}%6.2fs dur=${dur / 1000.0}%6.2fs  $d")
      prevEnd = math.max(prevEnd, if (en > 0) en else st)
    }
    println(f"[profile-summary] $name job_time=${runTotal / 1000.0}%.2f " +
      f"driver_gaps=${gapTotal / 1000.0}%.2f of $sec%.2f s")
    spark.stop()
  }
}
