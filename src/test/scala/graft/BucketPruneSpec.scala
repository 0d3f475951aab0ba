package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Hash-bucket file pruning (GraftPruning.pruneBucket): an
  * equality/IN literal on a declared bucket-layout key is hashed at
  * plan time with the writer's own Murmur3 (`pmod(hash(k), n)`), and
  * the scan keeps only the named cells' files. This is the
  * needle-in-haystack access path a hash-scattered key cannot get
  * from min/max stats: every bucket's range spans the whole domain,
  * so range pruning keeps everything — the cell id is exact.
  *
  * Soundness pins: files with no recorded cell (plain appends) are
  * always kept, null literals decline, and every pruned query is
  * checked row-for-row against the unpruned table. */
class BucketPruneSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-bktpr").toString + "/t"

  private def readFmt(root: String) =
    spark.read.format("graft-snapshot").option("path", root)

  private def filesPlanned(df: org.apache.spark.sql.DataFrame)
  : (Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no graft scan in plan:\n$plan")
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("point lookup on a single-key bucketed table plans exactly " +
      "one bucket's files; IN(2 values) at most two; rows match the " +
      "unpruned read") {
    val root = tmpRoot()
    val df = (1 to 20000)
      .map(i => (s"term_${i % 503}", i.toLong, i % 7))
      .toDF("term", "doc", "tf")
    SnapshotTable.commitBucketed(spark, root, df, "term", 16)
    val total = SnapshotTable.manifest(spark, root, 1L)
      .count(_.kind == "d")
    assert(total >= 16, s"fixture should fill all 16 buckets ($total)")

    val eq = readFmt(root).load().filter(col("term") === "term_42")
    val (keptEq, totEq) = filesPlanned(eq)
    assert(totEq == total)
    assert(keptEq <= total / 8,
      s"equality kept $keptEq of $totEq files — bucket pruning " +
        "did not engage (one bucket is 1/16 of the layout)")
    assert(eq.count() == df.filter(col("term") === "term_42").count())

    val in = readFmt(root).load()
      .filter(col("term").isin("term_42", "term_99"))
    val (keptIn, _) = filesPlanned(in)
    assert(keptIn <= total / 4,
      s"IN kept $keptIn of $total files")
    val got = in.orderBy("doc").collect().map(_.toSeq)
    val want = df.filter(col("term").isin("term_42", "term_99"))
      .orderBy("doc").collect().map(_.toSeq)
    assert(got.length == want.length &&
      got.zip(want).forall(p => p._1 == p._2))
  }

  test("integer bucket key: the plan-time literal hash agrees with " +
      "the writer's hash() column for int and long alike") {
    val rootL = tmpRoot()
    val dfL = (1 to 8000).map(i => (i.toLong % 997, i)).toDF("k", "v")
    SnapshotTable.commitBucketed(spark, rootL, dfL, "k", 8)
    val totalL = SnapshotTable.manifest(spark, rootL, 1L)
      .count(_.kind == "d")
    (0L to 30L).foreach { k =>
      val q = readFmt(rootL).load().filter(col("k") === k)
      val (kept, _) = filesPlanned(q)
      assert(kept < totalL, s"k=$k pruned nothing")
      assert(q.count() == dfL.filter(col("k") === k).count(),
        s"k=$k row mismatch under bucket pruning")
    }

    val rootI = tmpRoot()
    val dfI = (1 to 8000).map(i => (i % 997, i)).toDF("k", "v")
    SnapshotTable.commitBucketed(spark, rootI, dfI, "k", 8)
    (0 to 30).foreach { k =>
      val q = readFmt(rootI).load().filter(col("k") === k)
      assert(q.count() == dfI.filter(col("k") === k).count(),
        s"int k=$k row mismatch under bucket pruning")
    }
  }

  test("composite grid: a filter on EITHER key prunes to its own " +
      "per-key bucket's cells, the conjunction prunes to their " +
      "intersection, and results stay exact") {
    val root = tmpRoot()
    val df = (1 to 24000)
      .map(i => (s"a${i % 101}", (i % 31).toLong, i))
      .toDF("a", "b", "v")
    SnapshotTable.commitBucketedOn(spark, root, df,
      Seq(("a", 4), ("b", 3)))
    val total = SnapshotTable.manifest(spark, root, 1L)
      .count(_.kind == "d")
    assert(total == 12, s"grid should make 4x3=12 cells ($total)")

    val onA = readFmt(root).load().filter(col("a") === "a7")
    val (keptA, _) = filesPlanned(onA)
    assert(keptA <= 3, s"a-filter kept $keptA cells (one a-bucket " +
      "is 3 of 12)")
    assert(onA.count() == df.filter(col("a") === "a7").count())

    val onB = readFmt(root).load().filter(col("b") === 5L)
    val (keptB, _) = filesPlanned(onB)
    assert(keptB <= 4, s"b-filter kept $keptB cells (one b-bucket " +
      "is 4 of 12)")
    assert(onB.count() == df.filter(col("b") === 5L).count())

    val both = readFmt(root).load()
      .filter(col("a") === "a7" && col("b") === 5L)
    val (keptBoth, _) = filesPlanned(both)
    assert(keptBoth <= 1, s"conjunction kept $keptBoth cells")
    assert(both.count() ==
      df.filter(col("a") === "a7" && col("b") === 5L).count())
  }

  test("files without a recorded cell are always kept: a plain " +
      "append after the bucketed commit still answers point lookups " +
      "with its rows included") {
    val root = tmpRoot()
    val df = (1 to 8000).map(i => (s"t${i % 211}", i)).toDF("k", "v")
    SnapshotTable.commitBucketed(spark, root, df, "k", 8)
    val extra = Seq(("t42", 999001), ("t43", 999002)).toDF("k", "v")
    SnapshotTable.append(spark, root, extra)
    val total = SnapshotTable
      .manifest(spark, root,
        SnapshotTable.currentVersion(spark, root))
      .count(_.kind == "d")

    val q = readFmt(root).load().filter(col("k") === "t42")
    val (kept, tot) = filesPlanned(q)
    assert(tot == total)
    assert(kept < total,
      "bucketed files should still prune around the cell-less append")
    val want = df.filter(col("k") === "t42").count() + 1
    assert(q.count() == want,
      "the appended (cell-less) file's row must survive pruning")
  }

  test("null literals decline: IN with a null keeps the scan " +
      "correct (SQL IN never matches on null, pruning just steps " +
      "aside)") {
    val root = tmpRoot()
    val df = (1 to 4000).map(i => (s"t${i % 97}", i)).toDF("k", "v")
    SnapshotTable.commitBucketed(spark, root, df, "k", 8)
    val q = readFmt(root).load()
      .filter(col("k").isin("t42", null))
    assert(q.count() == df.filter(col("k") === "t42").count())
  }

  test("runtime (join-driven) IN on the bucket key narrows the " +
      "planned cells at execution time") {
    val root = tmpRoot()
    val df = (1 to 20000).map(i => (i.toLong % 997, i * 2.0))
      .toDF("k", "x")
    SnapshotTable.commitBucketed(spark, root, df, "k", 16)
    // the reported partitioning keeps one partition per planning-time
    // cell even when runtime filtering empties it (the SPJ report must
    // stay stable), so observe the FILE set through the plan hook
    var planned: Seq[graft.sources.SnapshotTable.FileEntry] = Seq.empty
    val builder = new graft.sources.connector.GraftScanBuilder(
      spark, root, 1L, readFmt(root).load().schema,
      onPlan = Some(es => planned = es))
    val built = builder.build()
    built.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions()
    val before = planned.size
    built.asInstanceOf[
        org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k", Array(5L, 6L, 7L))))
    built.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions()
    val after = planned.size
    assert(after < before,
      s"runtime bucket pruning left $after of $before files")
    assert(after <= 3,
      s"3 keys can live in at most 3 cells, planned $after files")
  }
}
