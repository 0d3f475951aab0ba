package graft.sources.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.sources.SnapshotTable

/** DataSource V2 WRITE path for [[SnapshotTable]] roots:
  *
  * {{{
  *   df.write.format("graft-snapshot").option("path", root)
  *     .mode("append").save()      // CAS append commit
  *     .mode("overwrite")          // truncate-replace commit
  * }}}
  *
  * Executor tasks write immutable parquet files straight into a
  * staging segment through [[GraftDataWriter]], the same per-file
  * writer native commits use, computing the per-file manifest stats
  * `append` records (min/max on the table's cluster key, bloom on its
  * bloom column) as they write; the driver's commit lands the version
  * through the SAME claim/publish CAS protocol as every native
  * commit. A concurrent native `append` and a V2
  * write therefore serialize correctly: one wins version N, the
  * other retries onto N+1 carrying both file sets.
  *
  * When the table is range-clustered, the write REQUESTS an ordered
  * distribution on the cluster key ([[RequiresDistributionAndOrdering]])
  * so Spark range-partitions + sorts the input before the tasks run —
  * new files land as disjoint key ranges and stay prunable, instead
  * of silently eroding the layout.
  *
  * Scope notes (stated): a task attempt that fails aborts and deletes
  * its own file; the whole-job abort deletes the staging segment. A
  * SPECULATIVE twin attempt that loses the commit race leaves an
  * unreferenced file inside the segment — invisible to every reader
  * (the manifest lists only committed files) and reaped with the
  * segment by `vacuum` once no manifest references it. */
private[connector] class GraftWriteBuilder(root: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = {
    val schema = info.schema()
    schema.fields.foreach(f =>
      require(GraftSnapshotSource.supported(f.dataType),
        s"graft-snapshot does not write ${f.dataType.simpleString} " +
          s"column '${f.name}'"))
    new GraftWrite(root, schema, replace)
  }
}

private[connector] class GraftWrite(root: String, schema: StructType,
    replace: Boolean) extends Write with RequiresDistributionAndOrdering {

  // the layout new files must maintain (empty for a replace: the new
  // contents define the table, and an explicit layout is the native
  // commit API's job)
  private val (clusterKey, bloomKey) = {
    val spark = SparkSession.active
    if (replace) (None, None)
    else {
      val (ck, bk) = SnapshotTable.layoutOf(spark, root)
      (ck.filter(k => schema.fieldNames.exists(_.equalsIgnoreCase(k))),
        bk.filter(k => schema.fieldNames.exists(_.equalsIgnoreCase(k))))
    }
  }

  /** The table's declared hash-bucket layout (when the batch carries
    * the bucket key): a SQL INSERT then lands INSIDE the layout —
    * clustered-by-bucket distribution, per-bucket file split, bucket
    * ids stamped in the manifest — so storage-partitioned joins
    * survive catalog ingest exactly as they survive `appendBucketed`
    * and the MOR delta writes. Without this, every INSERT INTO a
    * bucketed table would silently demote SPJ to a shuffle until
    * compaction. */
  private val bucketSpec: Option[Seq[(String, Int)]] = {
    if (replace) None
    else SnapshotTable.bucketLayoutOf(
      SnapshotTable.tableProperties(SparkSession.active, root))
      .filter(_.forall { case (k, _) =>
        schema.fieldNames.exists(_.equalsIgnoreCase(k)) })
  }

  /** The table's declared IDENTITY-partition keys (when the batch
    * carries ALL of them): the INSERT clusters by the key tuple and
    * each task splits one file per distinct tuple it holds — files
    * stay VALUE-PURE on every key, so exact partition pruning and the
    * manifest-answered GROUP BY survive catalog ingest exactly as
    * they survive `appendPartitioned`. The catalog refuses declaring
    * both a bucket grid and identity keys, so the two specs never
    * coexist. */
  private val partitionSpec: Option[Seq[String]] = {
    if (replace) None
    else Some(SnapshotTable.partitionKeysOf(
      SnapshotTable.tableProperties(SparkSession.active, root)))
      .filter(ks => ks.nonEmpty && ks.forall(k =>
        schema.fieldNames.exists(_.equalsIgnoreCase(k))))
  }

  /** A clustered table asks Spark to range-partition + sort the input
    * on the cluster key, so each task writes one compact key range —
    * the same shape `stageSegment` builds with repartitionByRange. A
    * BUCKETED table clusters by the bucket transform instead, so each
    * bucket's rows land in one task and the per-bucket file split
    * stays bounded by the bucket count. An identity-PARTITIONED table
    * clusters by the column itself, so each value's rows land whole
    * in one task. */
  override def requiredDistribution(): Distribution =
    (bucketSpec, partitionSpec) match {
      case (Some(layout), _) => Distributions.clustered(layout.map {
        case (k, n) => Expressions.bucket(n, k)
          : org.apache.spark.sql.connector.expressions.Expression
      }.toArray)
      case (None, Some(pks)) => Distributions.clustered(pks.map(pk =>
        Expressions.identity(pk)
          : org.apache.spark.sql.connector.expressions.Expression)
        .toArray)
      case _ => clusterKey.map(k =>
        Distributions.ordered(Array[V2SortOrder](
          Expressions.sort(Expressions.column(k),
            SortDirection.ASCENDING))))
        .getOrElse(Distributions.unspecified())
    }

  override def requiredOrdering(): Array[V2SortOrder] =
    if (bucketSpec.isDefined || partitionSpec.isDefined) Array.empty
    else clusterKey.map(k => Array[V2SortOrder](
      Expressions.sort(Expressions.column(k), SortDirection.ASCENDING)))
      .getOrElse(Array.empty)

  override def toBatch: BatchWrite =
    new GraftBatchWrite(root, schema, replace, clusterKey, bloomKey,
      bucketSpec, partitionSpec)
}

/** Every file one write task staged, each with the manifest stats the
  * task computed while writing it. */
private[sources] case class GraftTaskFiles(
    files: Seq[SnapshotTable.InlineFileStats])
  extends WriterCommitMessage

private[connector] object GraftTaskFiles {
  def of(messages: Array[WriterCommitMessage])
  : Seq[SnapshotTable.InlineFileStats] =
    messages.toSeq.collect { case GraftTaskFiles(fs) => fs }.flatten
}

private[connector] class GraftBatchWrite(root: String,
    schema: StructType, replace: Boolean, clusterKey: Option[String],
    bloomKey: Option[String],
    bucketSpec: Option[Seq[(String, Int)]] = None,
    partitionSpec: Option[Seq[String]] = None) extends BatchWrite {

  private val seg: Path = SnapshotTable.newSegmentPath(root)

  private val statsKey = clusterKey.orElse(bucketSpec.map(_.head._1))
    .orElse(partitionSpec.map(_.head))
  // the FULL grid/identity layout feeds the stats pass: secondary
  // keys get per-file ranges (extraStats) and NDV sketches just like
  // commitBucketedOn's stageBucketed — one key-less append would
  // otherwise drop the secondary key's table-wide NDV (ndvEstimates'
  // all-files rule) and stop range pruning on it for the new files
  private val gridExtra = (bucketSpec.toSeq.flatten.map(_._1) ++
    partitionSpec.toSeq.flatten.drop(1))
    .filterNot(k => statsKey.exists(_.equalsIgnoreCase(k)))
  private val statsSpec = SnapshotTable.inlineStatsSpec(
    SparkSession.active, schema, statsKey, bloomKey, gridExtra)

  private val hconf = SessionHadoopConf.broadcast(SparkSession.active)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
  : DataWriterFactory = (bucketSpec, partitionSpec) match {
    case (Some(layout), _) => new GraftBucketedWriterFactory(
      seg.toString, schema.json, layout.map { case (k, n) =>
        schema.fieldNames.indexWhere(_.equalsIgnoreCase(k)) -> n },
      statsSpec, hconf)
    case (None, Some(pks)) => new GraftPartitionedWriterFactory(
      seg.toString, schema.json, pks.map(pk =>
        schema.fieldNames.indexWhere(_.equalsIgnoreCase(pk))),
      statsSpec, hconf)
    case _ => new GraftWriterFactory(seg.toString, schema.json,
      statsSpec, hconf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = GraftTaskFiles.of(messages)
    if (files.nonEmpty || replace) {
      val entries = SnapshotTable.stagedEntries(seg, files, statsKey,
        bloomKey, partitionTail = partitionSpec.toSeq.flatten.drop(1))
      if (replace)
        SnapshotTable.replaceStaged(spark, root, seg, entries, schema)
      else
        SnapshotTable.appendStaged(spark, root, seg, entries, schema)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SnapshotTable.fs(SparkSession.active, root).delete(seg, true)
}

private[connector] class GraftBucketedWriterFactory(segAbs: String,
    schemaJson: String, bucketKeyIdxs: Seq[(Int, Int)],
    statsSpec: SnapshotTable.InlineStatsSpec,
    hconf: Broadcast[SerializableHadoopConf])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DataWriter[InternalRow] =
    new GraftBucketedAppendWriter(segAbs, schemaJson, bucketKeyIdxs,
      partitionId, taskId, statsSpec, hconf)
}

/** Bucketed append writer: rows split per grid cell — PER KEY
  * `pmod(murmur3(k_i), n_i)` folded positionally, which must agree
  * bit-for-bit with [[SnapshotTable.commitBucketedOn]]'s gridCell
  * and the catalog's V2 bucket function — one lazy file per
  * non-empty cell per task. The clustered-by-bucket distribution
  * upstream keeps the total file count bounded by the cell count.
  * NULL keys are refused — the bucket function has no bucket for
  * them, and accepting one would silently break the layout the scan
  * reports.
  *
  * With `cellIdx >= 0` (native bucketed staging) the rows instead
  * carry their cell, computed by `gridCell` (Spark's own hash, so
  * NULL keys and every hashable key type have one), as a trailing
  * column at that position; it routes the row and is stripped before
  * the row is written. */
private[sources] class GraftBucketedAppendWriter(segAbs: String,
    schemaJson: String, bucketKeyIdxs: Seq[(Int, Int)],
    partitionId: Int, taskId: Long,
    statsSpec: SnapshotTable.InlineStatsSpec,
    hconf: Broadcast[SerializableHadoopConf], cellIdx: Int = -1)
  extends DataWriter[InternalRow] {

  private val fields = DataType.fromJson(schemaJson)
    .asInstanceOf[StructType].fields
  private val keyTypes = bucketKeyIdxs.map { case (i, _) => fields(i).dataType }

  // ParquetWriteSupport writes row.numFields fields, not schema.length
  private lazy val dropCell = org.apache.spark.sql.catalyst.expressions
    .UnsafeProjection.create(fields.toIndexedSeq.zipWithIndex.map {
      case (fd, i) => org.apache.spark.sql.catalyst.expressions
        .BoundReference(i, fd.dataType, fd.nullable)
        : org.apache.spark.sql.catalyst.expressions.Expression })

  private val writers =
    scala.collection.mutable.Map.empty[Int, GraftDataWriter]
  // bucket rides as its OWN file-name component ("-bN"): folding it
  // arithmetically into taskId (taskId*K + bucket) aliases across task
  // attempts once buckets > K-1, and an aliased retry's abort() would
  // delete the committed attempt's file — silent data loss.
  private def w(bucket: Int): GraftDataWriter =
    writers.getOrElseUpdate(bucket,
      new GraftDataWriter(segAbs, schemaJson, partitionId, taskId,
        statsSpec, hconf, suffix = s"-b$bucket", bucket = Some(bucket)))

  private def bucketFor(row: InternalRow): Int = {
    var cell = 0
    var i = 0
    while (i < bucketKeyIdxs.length) {
      val (idx, n) = bucketKeyIdxs(i)
      require(!row.isNullAt(idx),
        "NULL bucket key in a bucketed append (the layout has no " +
          "bucket for NULL)")
      val dt = keyTypes(i)
      val v: Any = dt match {
        case IntegerType | DateType => row.getInt(idx)
        case LongType => row.getLong(idx)
        case StringType => row.getUTF8String(idx)
        case other => throw new UnsupportedOperationException(
          s"bucketed append: unsupported key type $other")
      }
      val h = org.apache.spark.sql.catalyst.expressions
        .Murmur3HashFunction.hash(v, dt, 42L).toInt
      cell = cell * n + (((h % n) + n) % n)
      i += 1
    }
    cell
  }

  override def write(row: InternalRow): Unit =
    if (cellIdx < 0) w(bucketFor(row)).write(row)
    else w(row.getInt(cellIdx)).write(dropCell(row))

  override def commit(): WriterCommitMessage =
    GraftTaskFiles(writers.values.toSeq.flatMap(_.files()))

  override def abort(): Unit = writers.values.foreach(_.abort())

  override def close(): Unit = writers.values.foreach(_.close())
}

private[connector] class GraftPartitionedWriterFactory(segAbs: String,
    schemaJson: String, keyIdxs: Seq[Int],
    statsSpec: SnapshotTable.InlineStatsSpec,
    hconf: Broadcast[SerializableHadoopConf])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DataWriter[InternalRow] =
    new GraftPartitionedAppendWriter(segAbs, schemaJson, keyIdxs,
      partitionId, taskId, statsSpec, hconf)
}

/** Identity-partitioned append writer: one lazy file per DISTINCT
  * partition value TUPLE the task sees — the clustered-by-identity
  * distribution upstream sends each tuple's rows whole to one task,
  * so every file is value-pure on every key and the stats pass
  * records min == max per key (the invariant exact pruning and the
  * manifest GROUP BY key on). NULL keys are refused, like the bucket
  * layout. The per-tuple file index rides the file name ("-pN")
  * purely for uniqueness; the VALUES are recovered from the file's
  * stats, never the name. */
private[sources] class GraftPartitionedAppendWriter(segAbs: String,
    schemaJson: String, keyIdxs: Seq[Int], partitionId: Int,
    taskId: Long,
    statsSpec: SnapshotTable.InlineStatsSpec,
    hconf: Broadcast[SerializableHadoopConf])
  extends DataWriter[InternalRow] {

  private val keyTypes = {
    val fields = DataType.fromJson(schemaJson)
      .asInstanceOf[StructType].fields
    keyIdxs.map(fields(_).dataType)
  }

  private val writers =
    scala.collection.mutable.Map.empty[Seq[Any], GraftDataWriter]

  /** An IMMUTABLE map key for the row's partition value tuple —
    * `getUTF8String` returns a buffer the reader reuses, so strings
    * must be copied before they key a map across rows. */
  private def keyOf(row: InternalRow): Seq[Any] =
    keyIdxs.zip(keyTypes).map { case (keyIdx, keyType) =>
      require(!row.isNullAt(keyIdx),
        GraftPartitionedAppendWriter.NullKeyMessage)
      keyType match {
        case IntegerType | DateType => row.getInt(keyIdx)
        case LongType => row.getLong(keyIdx)
        case ShortType => row.getShort(keyIdx)
        case ByteType => row.getByte(keyIdx)
        case StringType => row.getUTF8String(keyIdx).toString
        case other => throw new UnsupportedOperationException(
          s"identity-partitioned append: unsupported key type $other")
      }
    }

  override def write(row: InternalRow): Unit =
    writers.getOrElseUpdate(keyOf(row),
      new GraftDataWriter(segAbs, schemaJson, partitionId, taskId,
        statsSpec, hconf, suffix = s"-p${writers.size}"))
      .write(row)

  override def commit(): WriterCommitMessage =
    GraftTaskFiles(writers.values.toSeq.flatMap(_.files()))

  override def abort(): Unit = writers.values.foreach(_.abort())

  override def close(): Unit = writers.values.foreach(_.close())
}

private[sources] object GraftPartitionedAppendWriter {
  val NullKeyMessage = "NULL partition key in an identity-partitioned " +
    "write (the layout has no partition for NULL)"
}

private[connector] class GraftWriterFactory(segAbs: String,
    schemaJson: String,
    statsSpec: SnapshotTable.InlineStatsSpec,
    hconf: Broadcast[SerializableHadoopConf])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DataWriter[InternalRow] =
    new GraftDataWriter(segAbs, schemaJson, partitionId, taskId,
      statsSpec, hconf)
}

/** The one per-file staging writer, behind every commit path: native
  * clustered, identity-partitioned and bucketed staging, and the DSv2
  * append, copy-on-write and merge-on-read writes. Rows stream into
  * parquet through [[GraftDataWriter.nativeWriter]] while an
  * [[SnapshotTable.InlineStatsAcc]] computes the file's manifest stats,
  * so no commit reads its files back. The file is created LAZILY on
  * the first row, so empty partitions leave nothing to commit or
  * clean. Names are `part-<partition>-<task attempt><suffix>`, unique
  * per attempt: a retried task never collides with its failed twin,
  * and [[abort]] deletes every file this attempt wrote. With
  * `maxRecords > 0` the writer rolls to a sibling file at that many
  * rows, each name suffixed `-fNNNNNNNNNN` (zero-padded to the width
  * of any Int, so name order stays row order). */
private[sources] class GraftDataWriter(segAbs: String,
    schemaJson: String, partitionId: Int, taskId: Long,
    statsSpec: SnapshotTable.InlineStatsSpec,
    hconf: Broadcast[SerializableHadoopConf],
    suffix: String = "", bucket: Option[Int] = None,
    maxRecords: Long = 0L)
  extends DataWriter[InternalRow] {

  private lazy val schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  // every file this attempt created, finished or not
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]
  private val done =
    scala.collection.mutable.ArrayBuffer.empty[SnapshotTable.InlineFileStats]
  private var writer: ParquetWriter[InternalRow] = _
  private var acc: SnapshotTable.InlineStatsAcc = _

  private def path(name: String) = new Path(segAbs, name)

  private def finishFile(): Unit = {
    writer.close()
    writer = null
    val len = path(names.last).getFileSystem(hconf.value.value)
      .getFileStatus(path(names.last)).getLen
    done += acc.finish(names.last, len, bucket)
  }

  override def write(row: InternalRow): Unit = {
    if (writer != null && maxRecords > 0 && acc.rows >= maxRecords)
      finishFile()
    if (writer == null) {
      val roll = if (maxRecords > 0) f"-f${names.size}%010d" else ""
      names += f"part-$partitionId%05d-$taskId$suffix$roll.snappy.parquet"
      writer = GraftDataWriter.nativeWriter(path(names.last), schema,
        hconf.value.value)
      acc = new SnapshotTable.InlineStatsAcc(statsSpec)
    }
    acc.add(row)
    writer.write(row)
  }

  /** Closes the open file; every file written, with its stats. */
  def files(): Seq[SnapshotTable.InlineFileStats] = {
    if (writer != null) finishFile()
    done.toSeq
  }

  override def commit(): WriterCommitMessage = GraftTaskFiles(files())

  override def abort(): Unit = {
    if (writer != null)
      try writer.close() catch { case _: Throwable => () }
    writer = null
    val fsys = new Path(segAbs).getFileSystem(hconf.value.value)
    names.foreach { n =>
      try fsys.delete(path(n), false) catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = ()
}

private[sources] object GraftDataWriter {

  /** A parquet writer fed Spark `InternalRow`s directly through
    * Spark's own `ParquetWriteSupport` — the exact engine (and
    * byte-identical layouts, logical annotations, and rebase
    * behavior) behind `df.write.parquet`, minus the per-row Group
    * tree the example writer materializes. `base` is the session
    * Hadoop conf (its `parquet.*` sizing keys included); the writer
    * takes a private copy, and the keys the write support reads are
    * pinned explicitly so executor-side writes never depend on a
    * session: standard (non-legacy) layouts, micros timestamps,
    * proleptic (CORRECTED) datetimes. */
  def nativeWriter(filePath: Path, schema: StructType,
      base: Configuration): ParquetWriter[InternalRow] = {
    import org.apache.spark.sql.internal.SQLConf
    // a private COPY: setSchema below mutates it
    val conf = new Configuration(base)
    org.apache.spark.sql.execution.datasources.parquet
      .ParquetWriteSupport.setSchema(schema, conf)
    // every key the write support / schema converter reads, pinned
    // by its SQLConf entry (a bare Configuration has none of them,
    // and the converter does conf.get(key).toBoolean — NPE-shaped)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      "false")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      "CORRECTED")
    // ParquetWriter.Builder does NOT read the sizing keys off the
    // Configuration the way ParquetOutputFormat does — apply them
    // explicitly so `parquet.block.size` / `parquet.page.size` /
    // dictionary toggles behave exactly as under `df.write.parquet`
    new NativeBuilder(filePath).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(conf.getLong("parquet.block.size",
        ParquetWriter.DEFAULT_BLOCK_SIZE.toLong))
      .withPageSize(conf.getInt("parquet.page.size",
        ParquetWriter.DEFAULT_PAGE_SIZE))
      .withDictionaryPageSize(conf.getInt("parquet.dictionary.page.size",
        ParquetWriter.DEFAULT_PAGE_SIZE))
      .withDictionaryEncoding(conf.getBoolean("parquet.enable.dictionary",
        ParquetWriter.DEFAULT_IS_DICTIONARY_ENABLED))
      .build()
  }

  private class NativeBuilder(path: Path)
    extends ParquetWriter.Builder[InternalRow, NativeBuilder](path) {
    override def self(): NativeBuilder = this
    override def getWriteSupport(conf: Configuration)
    : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetWriteSupport
  }
}
