package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tooling: print the formatted physical plan (and optionally run)
  * any named SparkEntry query against a fixture dir — the .explain
  * feedback loop from the build guide, without writing a throwaway spec.
  *
  * Usage: runMain graft.tools.Explain <queryName> [sfDir] [run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: Explain <queryName> [sfDir] [run]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val doRun = args.lift(2).contains("run")
    val cpus = math.min(32, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (doRun) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name ran in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
