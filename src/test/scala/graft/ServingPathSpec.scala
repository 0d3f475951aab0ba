package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{MaterializedView, SnapshotTable}
import graft.sources.connector.SessionHadoopConf

/** The dashboard serving path: `readFresh` answers a repeat read at
  * unchanged versions from its memo, and `readKeys` over a literal key
  * list plans with no job, runs one, and reuses its compiled code for a
  * new key set — with the same answers as a plain GROUP BY and a plain
  * semi join. A warmed table read mints no Hadoop-conf broadcast. */
class ServingPathSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-serve").toString

  /** Spark jobs started by `body`, counted by a listener between two
    * marker jobs (listener delivery is asynchronous and in order). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val marks = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("serving-mark")) match {
          case Some(m) => marks.put(m)
          case None => jobs.incrementAndGet()
        }
    }
    def barrier(tag: String): Unit = {
      spark.sparkContext.setJobDescription(s"serving-mark-$tag")
      try spark.range(1).collect()
      finally spark.sparkContext.setJobDescription(null)
      var seen = false
      while (!seen) {
        val m = marks.poll(30, TimeUnit.SECONDS)
        assert(m != null, s"marker job $tag never reached the listener")
        seen = m == s"serving-mark-$tag"
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      barrier("start")
      jobs.set(0)
      val out = body
      barrier("end")
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def events(from: Int, until: Int, shift: Int = 0): DataFrame =
    (from until until).map(i => (i.toLong, s"t${(i + shift) % 5}",
      if (i % 7 == 0) None else Some((i % 97) + 0.25)))
      .toDF("id", "t", "value")

  /** The view's rows as a plain GROUP BY over the source computes them. */
  private def groupBy(df: DataFrame): Seq[String] =
    df.groupBy("t").agg(count(lit(1)).as("n"),
      sum(col("value").cast("decimal(20,2)")).cast("decimal(20,2)")
        .as("sum_value"),
      count(col("value")).as("cnt_value"))
      .collect().map(_.toString).toSeq.sorted

  private def served(df: DataFrame): Seq[String] =
    df.select("t", "n", "sum_value", "cnt_value")
      .collect().map(_.toString).toSeq.sorted

  test("readFresh: a warmed read at unchanged versions runs no job; " +
      "after an append, and after the tables are deleted and recreated " +
      "at the same roots, it equals a plain GROUP BY") {
    val dir = tmpDir()
    val src = s"$dir/src"
    val iv = MaterializedView.IncrementalView(src, s"$dir/mv", Seq("t"),
      Seq("value"))
    def build(shift: Int): Unit = {
      SnapshotTable.append(spark, src, events(0, 300, shift),
        clusterKey = Some("id"), files = 2)
      MaterializedView.refreshIncremental(spark, iv)
      SnapshotTable.append(spark, src, events(300, 450, shift),
        clusterKey = Some("id"), files = 2)
    }
    build(0)
    val first = served(MaterializedView.readFresh(spark, iv))
    assert(first == groupBy(SnapshotTable.read(spark, src)))
    val (again, jobs) = jobsOf {
      val df = MaterializedView.readFresh(spark, iv)
      df.queryExecution.executedPlan
      df
    }
    assert(jobs == 0, s"a repeat readFresh at unchanged versions ran $jobs jobs")
    assert(served(again) == first)

    SnapshotTable.append(spark, src, events(450, 520),
      clusterKey = Some("id"), files = 1)
    assert(served(MaterializedView.readFresh(spark, iv)) ==
      groupBy(SnapshotTable.read(spark, src)), "after one source append")

    // same roots, same version numbers, other rows: the manifest stamps,
    // not the versions, tell the memo the tables changed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    fs.delete(new org.apache.hadoop.fs.Path(iv.viewRoot), true)
    build(2)
    SnapshotTable.append(spark, src, events(450, 520, 2),
      clusterKey = Some("id"), files = 1)
    val recreated = groupBy(SnapshotTable.read(spark, src))
    assert(recreated != first)
    assert(served(MaterializedView.readFresh(spark, iv)) == recreated,
      "after the tables were deleted and recreated at the same roots")
  }

  test("readFresh: two frames of one view join on the key without " +
      "ambiguity") {
    val dir = tmpDir()
    val src = s"$dir/src"
    val iv = MaterializedView.IncrementalView(src, s"$dir/mv", Seq("t"),
      Seq("value"))
    SnapshotTable.append(spark, src, events(0, 200), clusterKey = Some("id"))
    MaterializedView.refreshIncremental(spark, iv)
    SnapshotTable.append(spark, src, events(200, 260), clusterKey = Some("id"))
    val a = MaterializedView.readFresh(spark, iv)
    val b = MaterializedView.readFresh(spark, iv)
    val joined = a.join(b, a("t") === b("t"))
      .select(a("t"), a("n").as("an"), b("n").as("bn")).collect()
    assert(joined.length == 5, joined.mkString(", "))
    assert(joined.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("readKeys over a literal key list: 0 jobs when planned, 1 when " +
      "collected, and a new key set compiles no class") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.append(spark, root, events(0, 2000), clusterKey = Some("id"),
      files = 4, bloomKey = Some("t"))
    val plain = SnapshotTable.read(spark, root).collect()
    def lookup(ids: Seq[Long]): DataFrame =
      SnapshotTable.readKeys(spark, root, "id", ids.toDF("id"))
    def want(ids: Seq[Long]): Seq[String] = plain
      .filter(r => ids.contains(r.getLong(0))).map(_.toString).toSeq.sorted
    // warm the shape: the first lookup compiles the scan and the filter
    assert(lookup(Seq(3L, 1500L)).collect().map(_.toString).toSeq.sorted ==
      want(Seq(3L, 1500L)))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiled0 = compiles.getCount
    val minted0 = SessionHadoopConf.mints
    val (df, planJobs) = jobsOf {
      val d = lookup(Seq(17L, 1999L))
      d.queryExecution.executedPlan
      d
    }
    assert(planJobs == 0, s"planning the lookup ran $planJobs jobs")
    val (rows, runJobs) = jobsOf(df.collect())
    assert(runJobs == 1, s"the lookup ran $runJobs jobs")
    assert(rows.map(_.toString).toSeq.sorted == want(Seq(17L, 1999L)))
    val compiled = compiles.getCount - compiled0
    assert(compiled == 0, s"a second key set compiled $compiled classes")
    // the scan ships the session's conf broadcast, minted before
    assert(SnapshotTable.read(spark, root).count() == 2000L)
    val minted = SessionHadoopConf.mints - minted0
    assert(minted == 0, s"warmed table reads minted $minted conf broadcasts")
  }

  test("readKeys: NULL, NaN, -0.0, decimal and timestamp keys, listed " +
      "or computed, match the semi join") {
    val dir = tmpDir()
    val nan = Double.NaN
    val dRows = Seq(Some(-2.5), Some(-0.0), Some(-0.0), Some(0.0), Some(nan),
      Some(nan), None, Some(3.0), Some(7.5))
    val dRoot = s"$dir/d"
    SnapshotTable.append(spark, dRoot, dRows.zipWithIndex
      .map { case (d, i) => (d, i) }.toDF("d", "i"),
      clusterKey = Some("d"), files = 3, bloomKey = Some("d"))
    val lRoot = s"$dir/l"
    SnapshotTable.append(spark, lRoot, Seq(Some(1L), Some(2L), None, Some(9L))
      .zipWithIndex.map { case (k, i) => (k, s"s$i", i) }.toDF("k", "s", "i")
      .withColumn("dec", (col("i") + lit(0.5)).cast("decimal(12,3)"))
      .withColumn("ts", timestamp_seconds(col("i") * 3600)),
      clusterKey = Some("k"), files = 2)
    def same(root: String, key: String, keys: DataFrame): Unit = {
      val table = SnapshotTable.read(spark, root)
      val want = table.join(keys, Seq(key), "left_semi")
        .collect().map(_.toString).toSeq.sorted
      val got = SnapshotTable.readKeys(spark, root, key, keys)
        .collect().map(_.toString).toSeq.sorted
      assert(got == want, s"$key keys ${keys.collect().mkString(",")}")
    }
    same(dRoot, "d", Seq(Some(0.0), Some(nan), None).toDF("d"))
    same(dRoot, "d", Seq(Some(-0.0)).toDF("d"))
    same(lRoot, "k", Seq(Some(2L), None, Some(9L)).toDF("k"))
    same(lRoot, "s", Seq(Some("s1"), None).toDF("s"))
    same(lRoot, "k", Seq.empty[Option[Long]].toDF("k"))
    same(lRoot, "dec", Seq(Some(BigDecimal("2.5")), None).toDF("dec"))
    same(lRoot, "ts", Seq(1, 3).toDF("i")
      .select(timestamp_seconds(col("i") * 3600).as("ts")))
    // a computed key frame: collected by probeFiles, then the same filter
    same(lRoot, "k", spark.range(0, 5).select((col("id") * 2).as("k")))
  }
}
