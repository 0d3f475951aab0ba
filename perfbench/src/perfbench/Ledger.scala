package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.BroadcastBlockId

/** The traced run's in-memory record: one span per benchmark operation,
  * one per public call below it, and one record per Spark job.
  *
  * Jobs are tied to spans by the local property [[Ledger.SpanKey]], which
  * [[span]] sets on the calling thread. Spark copies local properties to the
  * threads a call spawns (stream execution, broadcast exchanges), so a job
  * lands under the innermost span of the thread that caused it even when
  * its call site points elsewhere. Nothing is written until the run ends.
  *
  * Without tracing it records no spans or jobs; it only counts live
  * broadcast blocks from block updates, for the resource ledger. */
final class Ledger(sc: SparkContext, val tracing: Boolean)
    extends SparkListener {
  import Ledger._

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds from the monotonic clock, comparable with the
    * millisecond times Spark stamps on job events. */
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private val nextId = new AtomicInteger(0)
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val jobMap = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val broadcastPieces = new ConcurrentHashMap[String, Long]()
  private val events = new AtomicLong()

  /** Runs `body` inside a new span of `layer`; `body` gets the span id so
    * it can parent spans opened on other threads. Without tracing the body
    * runs bare and gets -1. */
  def span[T](layer: String, name: String, parent: Int)(body: Int => T): T =
    if (!tracing) body(-1)
    else {
      val id = nextId.incrementAndGet()
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowUs
      try body(id)
      finally {
        spanQ.add(Span(id, parent, layer, name, t0, nowUs))
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  def spans: Seq[Span] = spanQ.asScala.toSeq
  def jobs: Seq[Job] = jobMap.values.asScala.toSeq

  /** Live broadcast variables, from block updates: a broadcast counts
    * while any of its pieces is stored. */
  def liveBroadcasts: Int =
    broadcastPieces.values.asScala.toSet.size

  /** Waits until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var seen = -1L
    while (System.nanoTime() < deadline &&
        (seen != events.get || jobMap.values.asScala.exists(_.endUs == 0L))) {
      seen = events.get
      Thread.sleep(150)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
    events.incrementAndGet()
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobMap.put(e.jobId, Job(e.jobId, span, e.time * 1000L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) {
    events.incrementAndGet()
    jobMap.computeIfPresent(e.jobId, (_, j) => j.copy(endUs = e.time * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) {
    events.incrementAndGet()
    val m = e.taskMetrics
    val jobId = stageJob.get(e.stageId)
    if (m != null && jobId != null)
      jobMap.computeIfPresent(jobId, (_, j) => j.copy(
        tasks = j.tasks + 1,
        shuffleWrite = j.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        input = j.input + m.inputMetrics.bytesRead,
        runMs = j.runMs + m.executorRunTime,
        cpuNs = j.cpuNs + m.executorCpuTime))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: BroadcastBlockId =>
        if (info.storageLevel.isValid) broadcastPieces.put(b.name, b.broadcastId)
        else broadcastPieces.remove(b.name)
      case _ => ()
    }
  }
}

object Ledger {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startUs: Long, endUs: Long) {
    def durUs: Long = endUs - startUs
  }

  final case class Job(id: Int, span: Int, startUs: Long, endUs: Long = 0L,
      tasks: Long = 0L, shuffleWrite: Long = 0L, input: Long = 0L,
      runMs: Long = 0L, cpuNs: Long = 0L)

  def install(sc: SparkContext, tracing: Boolean): Ledger = {
    val l = new Ledger(sc, tracing)
    sc.addSparkListener(l)
    l
  }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** The trace of a set of root spans, folded into per-layer totals. */
  final class Tree(all: Seq[Span], allJobs: Seq[Job]) {
    private val children = all.groupBy(_.parent)
    private val jobsOf = allJobs.filter(_.endUs > 0L).groupBy(_.span)

    def subtree(root: Span): Seq[Span] =
      root +: children.getOrElse(root.id, Nil).flatMap(subtree)

    def jobsUnder(root: Span): Seq[Job] =
      subtree(root).flatMap(s => jobsOf.getOrElse(s.id, Nil))

    /** Time inside `root` during which at least one of its jobs ran. */
    def busyUs(root: Span): Long =
      covered(jobsUnder(root).map(j => (j.startUs, j.endUs)),
        root.startUs, root.endUs)

    /** Self time per layer under `root`: each span's duration minus the
      * part its child spans and its own jobs cover; the jobs' covered time
      * is reported as layer "spark.jobs". */
    def selfUs(root: Span): Map[String, Long] = {
      val acc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      subtree(root).foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
        val own = jobsOf.getOrElse(s.id, Nil).map(j => (j.startUs, j.endUs))
        val both = covered(kids ++ own, s.startUs, s.endUs)
        acc(s.layer) += s.durUs - both
        // job time not already inside a child span belongs to spark.jobs
        acc("spark.jobs") += both - covered(kids, s.startUs, s.endUs)
      }
      acc.toMap
    }
  }
}
