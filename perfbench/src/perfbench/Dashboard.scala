package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sources.{MaterializedView, SnapshotTable}

/** `dashboard`: the read side of the lakehouse table. Set-up lands the
  * `events` fixture as [[Dashboard.Appends]] time-ordered appends (bloom
  * filter on user_id, clustered on event_id) and an incremental per
  * event_type view that trails the table by [[Dashboard.Pending]]
  * appends. The timed part is a closed loop over a seeded request mix
  * ([[Dashboard.Mix]]); nothing commits inside the clock, so manifest
  * reads, pruning and planning dominate the table requests.
  * `panel` requests run a named event-analytics query of
  * `SparkEntry.queries` over the fixture, the dashboard's `operators`
  * work; their answers also go to the DuckDB oracle in `perfbench/run.py`. */
object Dashboard {
  val Appends = 4
  val FilesPerAppend = 4
  val Pending = 1
  /** Request kinds and their slots in each cycle of 20 requests. */
  val Mix: Seq[(String, Int)] = Seq("stats" -> 3, "timeline" -> 4,
    "user_lookup" -> 4, "key_range" -> 3, "connector" -> 2, "panel" -> 4)
  /** The analytics panels; each cycle runs each panel once. */
  val Panels: Seq[String] = Seq("events_top_users", "events_sessions",
    "events_funnel", "events_retention_cohorts")
  private val Cols = Seq("event_id", "ts", "user_id", "event_type", "value")
  private val DayMs = 86400000L
  private val T0Ms = 1704067200000L // 2024-01-01T00:00:00Z, the fixture start

  /** One dashboard request: its kind and seeded parameters. */
  final case class Req(kind: String, from: Long = 0L, to: Long = 0L,
      users: Seq[Long] = Nil, panel: String = "")

  /** The seeded request stream: shuffled cycles that each hold exactly the
    * [[Mix]], so the mix a run sees does not depend on its seed or length.
    * Each request draws where it reads, not how much: 2-day windows on an
    * hour boundary, 2 users, 500 consecutive event ids. */
  def requests(seed: Long): Iterator[Req] = {
    val rng = new java.util.Random(seed)
    val cycle = Mix.flatMap {
      case ("panel", _) => Panels.map(p => ("panel", p))
      case (k, n) => Seq.fill(n)((k, ""))
    }
    def draw(kind: String, panel: String): Req = kind match {
      case "timeline" | "connector" =>
        val from = T0Ms + rng.nextInt(28) * DayMs + rng.nextInt(24) * 3600000L
        Req(kind, from, from + 2 * DayMs)
      case "user_lookup" =>
        Req(kind, users = Seq.fill(2)(rng.nextInt(1500).toLong))
      case "key_range" =>
        val lo = rng.nextInt(99500).toLong
        Req(kind, lo, lo + 499)
      case _ => Req(kind, panel = panel)
    }
    Iterator.continually {
      val order = new java.util.ArrayList(cycle.asJava)
      java.util.Collections.shuffle(order, rng)
      order.asScala.map { case (k, p) => draw(k, p) }
    }.flatten
  }

  private def byHour(df: DataFrame): DataFrame =
    df.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).as("sum_value"))

  private def hourly(df: DataFrame, r: Req): DataFrame =
    byHour(df.filter(col("ts") >= lit(new Timestamp(r.from)) &&
      col("ts") < lit(new Timestamp(r.to))))

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("value").cast("decimal(20,2)")).cast("decimal(20,2)").as("sum_value"),
      count(col("value")).as("cnt_value"))

  private object Plans extends AdaptiveSparkPlanHelper

  /** Bytes of the data files the connector's scans keep after pruning, as
    * they report them to the planner. The connector's readers leave
    * Spark's task input metrics at zero, so this stands in for its input
    * bytes. */
  private def connectorKeptBytes(df: DataFrame): Double =
    Plans.collect(df.queryExecution.executedPlan) { case b: BatchScanExec =>
      b.scan match {
        case s: SupportsReportStatistics =>
          s.estimateStatistics().sizeInBytes().orElse(0L)
        case _ => 0L
      }
    }.sum.toDouble

  private def layerOf(kind: String): String = kind match {
    case "stats" => "mv"
    case "connector" => "connector"
    case "panel" => "operators"
    case _ => "table"
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val l = ctx.ledger
    import spark.implicits._
    val root = s"${ctx.work}/dashboard/events_t"
    val iv = MaterializedView.IncrementalView(root,
      s"${ctx.work}/dashboard/events_mv", Seq("event_type"), Seq("value"))
    val fixture = spark.read.parquet(s"${ctx.fixtures}/events.parquet")
    val n = fixture.count()
    (0 until Appends).foreach { k =>
      SnapshotTable.append(spark, root,
        fixture.filter(col("event_id") >= n * k / Appends &&
          col("event_id") < n * (k + 1) / Appends),
        clusterKey = Some("event_id"), files = FilesPerAppend,
        bloomKey = if (k == 0) Some("user_id") else None)
      if (k == Appends - Pending - 1)
        MaterializedView.refreshIncremental(spark, iv)
    }
    val tableBytes = SnapshotTable.manifest(spark, root,
      SnapshotTable.currentVersion(spark, root)).flatMap(_.bytes).sum.toDouble

    /** The request's public call, planned: returns its DataFrame. */
    def plan(r: Req): DataFrame = r.kind match {
      case "stats" => MaterializedView.readFresh(spark, iv)
        .select("event_type", "n", "sum_value", "cnt_value")
      case "timeline" => hourly(SnapshotTable.read(spark, root), r)
      case "user_lookup" => SnapshotTable.readKeys(spark, root, "user_id",
        r.users.toDF("user_id")).select(Cols.map(col): _*)
      case "key_range" => SnapshotTable.readWhere(spark, root, "event_id",
        Some(r.from.toString), Some(r.to.toString)).select(Cols.map(col): _*)
      case "connector" => hourly(spark.read.format("graft-snapshot")
        .option("path", root).load(), r)
      case "panel" => SparkEntry.queries(r.panel)(spark, ctx.fixtures)
    }

    final case class Done(req: Req, wallS: Double, answer: Array[Row],
        schema: StructType, root: Int, keptBytes: Double) {
      def rows: Seq[String] = answer.map(_.toString).toSeq.sorted
    }
    def execute(name: String, r: Req): Done = {
      val t0 = System.nanoTime()
      var root = -1
      var df: DataFrame = null
      val (answer, schema) = l.span("bench", name, -1) { rid =>
        root = rid
        df = l.span(layerOf(r.kind), s"read.${r.kind}.plan", rid) { _ =>
          val d = plan(r)
          d.queryExecution.executedPlan
          d
        }
        l.span("spark", s"read.${r.kind}.exec", rid)(_ => (df.collect(), df.schema))
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      // outside the clock: only the traced run reports it
      val kept = if (l.tracing && r.kind == "connector") connectorKeptBytes(df) else 0.0
      Done(r, wallS, answer, schema, root, kept)
    }

    // one full cycle outside the clock: requests keep getting faster over
    // their first calls while the JIT compiles the read paths
    val warm = requests(ctx.seed ^ 0x5DEECE66DL).take(Mix.map(_._2).sum).toSeq
      .map(execute("dashboard.warmup", _))
    val gen = requests(ctx.seed)
    val done = mutable.ArrayBuffer[Done]()
    var failed = false
    val firstOp = System.currentTimeMillis()
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    val cycle = Mix.map(_._2).sum
    // the cycle in progress at the deadline completes, so every run times
    // whole cycles: exactly the mix
    while (!failed && (done.size % cycle != 0 || done.isEmpty ||
        System.nanoTime() < deadline)) {
      val r = gen.next()
      try done += execute("dashboard.request", r)
      catch { case e: Throwable => ctx.opFailed(s"dashboard $r", e); failed = true }
    }
    val wall = (System.nanoTime() - start) / 1e9

    // answer checks, untimed: plain Spark over the fixture parquet, one
    // query per answer shape, cut to each request's keys or hours
    val all = warm ++ done
    val plainRows = fixture.select(Cols.map(col): _*).collect()
    val plainByUser = plainRows.groupBy(_.getAs[Long]("user_id"))
    val plainHours = byHour(fixture).collect()
    val plainStats = rollup(fixture).collect()
    def expected(r: Req): Seq[String] = (r.kind match {
      case "stats" => plainStats
      case "timeline" | "connector" => plainHours.filter { h =>
        val t = h.getAs[Timestamp]("hour").getTime
        t >= r.from && t < r.to
      }
      case "user_lookup" =>
        r.users.distinct.toArray.flatMap(u => plainByUser.getOrElse(u, Array.empty[Row]))
      case "key_range" => plainRows.filter { e =>
        val id = e.getAs[Long]("event_id")
        id >= r.from && id <= r.to
      }
    }).map(_.toString).toSeq.sorted
    // panels: the first answer of each goes to the DuckDB oracle, and every
    // later answer of the same panel must equal it
    val answers = s"${ctx.work}/answers"
    val firstPanels = all.filter(_.req.kind == "panel").groupBy(_.req.panel)
      .map { case (name, ds) => name -> ds.head }
    firstPanels.foreach { case (name, d) =>
      spark.createDataFrame(d.answer.toSeq.asJava, d.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$answers/$name")
    }
    Files.createDirectories(Paths.get(answers))
    Files.writeString(Paths.get(s"$answers/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => firstPanels.contains(k) }
        .map { case (k, v) => s"${LakeBench.jsonStr(k)}:${LakeBench.jsonStr(v)}" }
        .mkString("{", ",", "}"))
    all.groupBy(_.req.kind).foreach { case (kind, ds) =>
      val bad =
        if (kind == "panel") ds.count(d => d.rows != firstPanels(d.req.panel).rows)
        else ds.count(d => d.rows != expected(d.req))
      ctx.check(s"dashboard: $bad of ${ds.size} $kind answers differ from " +
        (if (kind == "panel") "the panel's first answer"
         else "plain Spark over the fixture"), bad == 0)
    }
    ctx.check("dashboard: connector answers == direct-API answers",
      all.filter(_.req.kind == "connector").forall(d =>
        d.rows == hourly(SnapshotTable.read(spark, root), d.req)
          .collect().map(_.toString).toSeq.sorted))

    val layer =
      if (!l.tracing) Map.empty[String, Double]
      else {
        l.drain()
        val tree = new Ledger.Tree(l.spans, l.jobs)
        val byId = l.spans.map(s => s.id -> s).toMap
        def roots(kind: String) =
          done.filter(_.req.kind == kind).map(d => byId(d.root)).toSeq
        def ms(kind: String, phase: String) = LakeBench.mean(roots(kind).map(r =>
          tree.subtree(r).filter(_.name == s"read.$kind.$phase")
            .map(_.durUs / 1000.0).sum))
        val reads = Mix.map(_._1).filter(_ != "panel").flatMap { kind =>
          Seq(s"read.$kind.plan_ms" -> ms(kind, "plan"),
            s"read.$kind.exec_ms" -> ms(kind, "exec"),
            s"read.$kind.bytes_share" ->
              (if (kind == "connector") LakeBench.mean(done
                .filter(_.req.kind == kind).map(_.keptBytes / tableBytes).toSeq)
              else LakeBench.mean(roots(kind).map(r =>
                tree.jobsUnder(r).map(_.input).sum / tableBytes))))
        }
        val versions = SnapshotTable.versions(spark, root)
        (reads ++ Seq(
          "panel.plan_ms" -> ms("panel", "plan"),
          "panel.exec_ms" -> ms("panel", "exec"),
          "panel.gap_share" -> LakeBench.mean(roots("panel").map(r =>
            (r.durUs - tree.busyUs(r)).toDouble / math.max(1L, r.durUs))),
          "panel.shuffle_bytes" -> LakeBench.mean(roots("panel").map(r =>
            tree.jobsUnder(r).map(_.shuffleWrite).sum.toDouble)),
          "table.versions_end" -> versions.size.toDouble,
          "table.manifest_entries_end" -> SnapshotTable.manifest(spark, root,
            versions.max).size.toDouble)).toMap
      }
    Outcome(done.map(_.wallS).toSeq, wall, done.size.toDouble, firstOp,
      warm.size + done.size + (if (failed) 1 else 0), done.map(_.root).toSet,
      layer)
  }
}
