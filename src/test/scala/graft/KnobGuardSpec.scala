package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over src/main/scala: the engine's settable
  * `spark.graft.*` keys, pinned (a new knob has to be added here, next
  * to the three that remain), the connector's one parquet decoder
  * (a second, parquet-mr record decoder has to edit this spec), and
  * SnapshotTable's one read route, the connector's scan. */
class KnobGuardSpec extends AnyFunSuite {

  private def sources(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private def mainSources(): Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    sources(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try (f, src.mkString) finally src.close()
    }
  }

  test("src/main reads exactly the three settable spark.graft keys") {
    val literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]*)".r
    val keys = mainSources().flatMap { case (_, text) =>
      literal.findAllMatchIn(text).map(_.group(1)).toList
    }.toSet
    assert(keys == Set(
      "spark.graft.commit.targetFileBytes",
      "spark.graft.stats.analyze.auto",
      "spark.graft.stats.analyze.auto.minStale"), keys.toString)
  }

  test("src/main decodes parquet through one reader: nothing " +
      "references parquet-mr's example Group API") {
    val hits = mainSources().collect {
      case (f, text) if text.contains("org.apache.parquet.example") ||
          text.contains("GroupReadSupport") => f.getPath
    }
    assert(hits.isEmpty, s"a second parquet decoder: $hits")
  }

  test("SnapshotTable reads through the connector's scan only: no " +
      "explicit-schema parquet read, input_file_name or left tombstone " +
      "join") {
    val text = mainSources().collectFirst {
      case (f, t) if f.getName == "SnapshotTable.scala" => t
    }.get
    val hits = Seq("read.schema(", "input_file_name", "\"left\"")
      .filter(text.contains)
    assert(hits.isEmpty, s"a second read engine in SnapshotTable: $hits")
  }
}
