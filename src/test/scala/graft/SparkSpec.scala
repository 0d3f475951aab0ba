package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially in the forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir

  /** The distinct data files the graft-snapshot scans in `df`'s
    * optimized plan keep after pruning, as absolute paths. Fails when
    * the plan holds no such scan, so a "fewer files" bound can never
    * pass on a plan that reads around the connector
    * (`Dataset.inputFiles` reports nothing for a DSv2 scan). */
  def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val scans = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.collect { case s: graft.sources.connector.GraftScan => s }
    assert(scans.nonEmpty, "no graft-snapshot scan in the plan:\n" +
      df.queryExecution.optimizedPlan)
    scans.flatMap(_.plannedFiles).distinct
  }
}
