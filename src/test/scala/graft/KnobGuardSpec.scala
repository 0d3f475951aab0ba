package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's settable `spark.graft.*` keys, pinned: a new knob has
  * to be added here, next to the three that remain. */
class KnobGuardSpec extends AnyFunSuite {

  test("src/main reads exactly the three settable spark.graft keys") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]*)".r
    val keys = sources(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try literal.findAllMatchIn(src.mkString).map(_.group(1)).toList
      finally src.close()
    }.toSet
    assert(keys == Set(
      "spark.graft.commit.targetFileBytes",
      "spark.graft.stats.analyze.auto",
      "spark.graft.stats.analyze.auto.minStale"), keys.toString)
  }
}
