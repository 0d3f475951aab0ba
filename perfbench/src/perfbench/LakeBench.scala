package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the trace, its inputs and
  * the run's private working directory. */
final case class Ctx(spark: SparkSession, ledger: Ledger, seed: Long,
    seconds: Double, fixtures: String, work: String) {
  private val problemQ = mutable.ArrayBuffer[String]()
  private var checks = 0

  /** An untimed answer check; every failure is reported and counted. */
  def check(what: String, ok: => Boolean): Unit = {
    checks += 1
    val passed =
      try ok
      catch { case e: Throwable => problemQ += s"$what: $e"; return }
    if (!passed) problemQ += what
  }
  def opFailed(what: String, e: Throwable): Unit = problemQ += s"$what: $e"
  def problems: Seq[String] = problemQ.toSeq
  def checkCount: Int = checks
}

/** What a workload measured. `ops` are the timed operations' latencies in
  * seconds, `work` the units completed inside the timed wall (events or
  * requests), `roots` the timed operations' span ids. */
final case class Outcome(ops: Seq[Double], wallS: Double, work: Double,
    firstOpEpochMs: Long, attempted: Int, roots: Set[Int],
    layer: Map[String, Double])

/** Entry point of the lakehouse benchmark's JVM side. `perfbench/run.py`
  * builds the classes, writes the seeded fixtures and calls
  *
  * {{{
  * LakeBench --workload ingest|dashboard --seed N --seconds S
  *           --trace 0|1 --fixtures DIR --work DIR --cores C
  * }}}
  *
  * It prints one JSON line: the op latencies, counts, the resource ledger
  * and, with tracing, the per-layer metrics. */
object LakeBench {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val cores = opt.getOrElse("cores", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // fixture timestamps carry no UTC flag; read them as TIMESTAMP, as
      // graft.Tables.load does
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // bounded job history, so the heap left at the end reflects the
      // engine's own state rather than how many operations fit the clock
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${opt("work")}/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ledger = Ledger.install(spark.sparkContext, opt("trace") == "1")
    val ctx = Ctx(spark, ledger, opt("seed").toLong, opt("seconds").toDouble,
      opt("fixtures"), opt("work"))
    val gc0 = gcMs()
    val out = workload match {
      case "ingest" => Ingest.run(ctx)
      case "dashboard" => Dashboard.run(ctx)
    }
    val gcTimed = gcMs() - gc0
    ledger.drain()
    val metrics = mutable.LinkedHashMap[String, Double]()
    if (ledger.tracing) {
      metrics ++= out.layer
      metrics ++= engine(ledger, out, gcTimed)
    }
    // resource ledger, taken before anything is released
    metrics("spark.persisted_rdds_end") =
      spark.sparkContext.getPersistentRDDs.size.toDouble
    metrics("spark.broadcast_blocks_end") = ledger.liveBroadcasts.toDouble
    metrics("jvm.tmp_bytes_end") =
      treeBytes(Paths.get(System.getProperty("java.io.tmpdir"))).toDouble
    metrics("heap_live_end_mb") = heapAfterGcMb()
    println(json(out, ctx, metrics))
    spark.stop()
    sys.exit(0)
  }

  /** Spark-engine totals over the timed operations, per operation; per
    * public call of each layer, its wall, Spark jobs and driver gap; and
    * the self time of each layer that has a span under them. */
  private def engine(l: Ledger, out: Outcome, gcTimed: Long)
  : Seq[(String, Double)] = {
    val tree = new Ledger.Tree(l.spans, l.jobs)
    val roots = l.spans.filter(s => out.roots(s.id))
    val n = math.max(1, roots.size).toDouble
    val jobs = roots.flatMap(tree.jobsUnder)
    val busy = roots.map(tree.busyUs).sum / 1000.0
    val wall = roots.map(_.durUs).sum / 1000.0
    val self = roots.map(tree.selfUs).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val run = jobs.map(_.runMs).sum
    // a layer's calls: its spans under the timed operations that are not
    // nested in a span of the same layer
    val byId = l.spans.map(s => s.id -> s).toMap
    val calls = roots.flatMap(tree.subtree).filter(s => s.layer != "bench" &&
      byId.get(s.parent).forall(_.layer != s.layer)).groupBy(_.layer)
    val perCall = calls.toSeq.flatMap { case (layer, cs) =>
      Seq(s"$layer.call_ms" -> mean(cs.map(_.durUs / 1000.0)),
        s"$layer.jobs_per_call" -> mean(cs.map(tree.jobsUnder(_).size.toDouble)),
        s"$layer.gap_ms_per_call" ->
          mean(cs.map(s => (s.durUs - tree.busyUs(s)) / 1000.0)))
    }
    perCall ++ Seq(
      "spark.jobs" -> jobs.size / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.busy_ms" -> busy / n,
      "spark.gap_ms" -> (wall - busy) / n,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / n,
      "spark.input_bytes" -> jobs.map(_.input).sum / n,
      "spark.task_cpu_share" ->
        (if (run > 0) jobs.map(_.cpuNs).sum / 1e6 / run else 0.0),
      "spark.gc_ms" -> gcTimed / n,
      "trace.op_p50_s" -> median(roots.map(_.durUs / 1e6))) ++
      self.map { case (layer, us) => s"$layer.self_ms" -> us / 1000.0 / n }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Live heap: the heap pools' usage right after a full collection. The
    * first collection lets Spark's context cleaner release what became
    * unreachable (broadcast and shuffle blocks), the second measures. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => try Files.size(f) catch { case _: Exception => 0L }).sum
      finally s.close()
    }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  private def json(o: Outcome, ctx: Ctx,
      metrics: collection.Map[String, Double]): String =
    Seq(
      "\"ops\":" + o.ops.map(num).mkString("[", ",", "]"),
      "\"wall_s\":" + num(o.wallS),
      "\"work\":" + num(o.work),
      "\"first_op_epoch_ms\":" + o.firstOpEpochMs,
      "\"attempted\":" + (o.attempted + ctx.checkCount),
      "\"problems\":" + ctx.problems.map(jsonStr).mkString("[", ",", "]"),
      "\"metrics\":" + metrics.map { case (k, v) => s"${jsonStr(k)}:${num(v)}" }
        .mkString("{", ",", "}")).mkString("{", ",", "}")
}
