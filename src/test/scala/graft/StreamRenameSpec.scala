package graft.sources.connector

import graft.SparkSpec
import graft.sources.SnapshotTable
import scala.jdk.CollectionConverters._

/** A RUNNING stream captures its schema at start; a mid-stream RENAME
  * means files committed after it store the NEW physical name while
  * the stream still asks for the old one. The rename epochs resolve
  * the stale request per file — post-rename files map (old logical ->
  * new physical) and the stream keeps serving real values under the
  * names it began with, instead of silently going NULL. */
class StreamRenameSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-srn").toString + "/t"

  test("a snapshot stream keeps serving a column renamed mid-stream: " +
      "post-rename files translate old-logical -> new-physical") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, 10), (2L, 20)).toDF("k", "x").coalesce(1))       // v1
    val startSchema = GraftSnapshotSource.schemaOf(spark, root, 1L)
    assert(startSchema.fieldNames.toSeq == Seq("k", "x"))
    val stream = new GraftMicroBatchStream(spark, root, startSchema)
    val o0 = stream.initialOffset()
    val o1 = stream.latestOffset()
    // batch 1: pre-rename file, no aliases needed
    val b1 = stream.planInputPartitions(o0, o1)
    assert(b1.forall(
      _.asInstanceOf[GraftInputPartition].aliases.isEmpty))

    SnapshotTable.renameColumn(spark, root, "x", "y")           // v2
    SnapshotTable.append(spark, root,
      Seq((3L, 30)).toDF("k", "y").coalesce(1))                 // v3
    val o3 = stream.latestOffset()
    val b2 = stream.planInputPartitions(o1, o3)
    assert(b2.length == 1)
    val p = b2.head.asInstanceOf[GraftInputPartition]
    assert(p.aliases.toSeq == Seq("x" -> "y"),
      s"stale stream name must translate forward, got " +
        s"${p.aliases.toSeq}")
    // and the rows actually decode under the stream's schema
    val factory = new GraftReaderFactory(startSchema.json,
      Array.empty, SessionHadoopConf.broadcast(spark))
    val reader = factory.createColumnarReader(b2.head)
    val rows = Iterator.continually(reader)
      .takeWhile(_.next()).flatMap(_.get().rowIterator().asScala)
      .map(r => (r.getLong(0), r.getInt(1))).toList
    reader.close()
    assert(rows == List((3L, 30)),
      s"mid-stream rename lost the column's values: $rows")
  }

  test("rate-limited REPLAY across a mid-history rename: a batch " +
      "ending before the rename version still serves real values " +
      "under the stream's run-start names (alias resolution uses " +
      "max(vE, run-start tip), never the pre-rename schema)") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, 10)).toDF("k", "x").coalesce(1))                 // v1
    SnapshotTable.append(spark, root,
      Seq((2L, 20)).toDF("k", "x").coalesce(1))                 // v2
    SnapshotTable.renameColumn(spark, root, "x", "y")           // v3
    SnapshotTable.append(spark, root,
      Seq((3L, 30)).toDF("k", "y").coalesce(1))                 // v4
    // the stream starts NOW: its names are the CURRENT names (k, y);
    // one-file-per-trigger puts batch 1 entirely before the rename,
    // where schemaOf(vE) carries neither 'y' nor any epochs — the
    // regression mode was silently NULL 'y' for the whole replay
    val schema = GraftSnapshotSource.schemaOf(spark, root, 4L)
    val stream = new GraftMicroBatchStream(spark, root, schema,
      limits = StreamLimits(Some(1), None, None))
    val limit = stream.getDefaultReadLimit
    val o0 = stream.initialOffset().asInstanceOf[GraftOffset]
    val o1 = stream.latestOffset(o0, limit)
    val b1 = stream.planInputPartitions(o0, o1)
    assert(b1.length == 1)
    val p = b1.head.asInstanceOf[GraftInputPartition]
    assert(p.aliases.toSeq == Seq("y" -> "x"),
      s"pre-rename replay batch must translate via the run-start " +
        s"epochs, got ${p.aliases.toSeq}")
    val factory = new GraftReaderFactory(schema.json, Array.empty,
      SessionHadoopConf.broadcast(spark))
    val reader = factory.createColumnarReader(p)
    val rows = Iterator.continually(reader)
      .takeWhile(_.next()).flatMap(_.get().rowIterator().asScala)
      .map(r => (r.getLong(0), r.getInt(1))).toList
    reader.close()
    assert(rows == List((1L, 10)),
      s"rate-limited replay across the rename went NULL: $rows")
  }
}
