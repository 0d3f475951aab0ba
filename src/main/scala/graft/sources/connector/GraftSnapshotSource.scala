package graft.sources.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum => VSum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.FileEntry

/** DataSource V2 read connector for [[SnapshotTable]] roots:
  *
  * {{{
  *   spark.read.format("graft-snapshot")
  *     .option("path", root)
  *     .option("versionAsOf", 3)        // or timestampAsOf (millis)
  *     .load()
  *     .filter($"o_orderkey" between (1000, 5000))
  * }}}
  *
  * This puts the snapshot layer INSIDE Catalyst planning instead of
  * beside it: filter pushdown reaches the connector as `sources.Filter`s
  * (shown under PushedFilters in explain), and the connector answers
  * with manifest-level FILE PRUNING — range filters prune by the
  * min/max stats slots (both Z-order dimensions), equality/IN probes
  * the per-file blooms — before a single parquet footer is opened.
  * Column pruning reaches the parquet reader as a projected read
  * schema built from each file's OWN schema, so unprojected columns
  * are never decoded.
  *
  * Merge-on-read tables read THROUGH the tombstones: the driver
  * attaches to each data-file partition exactly the tombstone files
  * that can kill rows in it (sequence rule + key-range intersection),
  * and the reader drops tombstoned rows as it decodes — the delete
  * key is read as a hidden trailing field when unprojected. Data-file
  * pruning stays sound under MOR because tombstones only ever REMOVE
  * rows.
  *
  * Types: the atomic int/long/float/double/boolean/string/binary/
  * date/timestamp set, plus ARRAY / STRUCT / MAP compositions thereof
  * to any depth (the embeddings table's `array<float>` and the
  * multimodal table's binary payload + struct metadata read through
  * the connector). List decoding accepts both the standard 3-level
  * parquet layout and the 2-level legacy/pyarrow layouts by
  * STRUCTURE, not by the inner field's name. Stats/bloom pruning and
  * cluster layouts stay atomic-keyed; filters naming nested columns
  * are simply residual (no file skipped — never wrong, only
  * unpruned). Row-level residual evaluation stays with Spark: pushed
  * filters only ever SKIP whole files, so pruning cannot change an
  * answer. */
class GraftSnapshotSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  private def resolve(options: CaseInsensitiveStringMap)
  : (String, Long) = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot requires option(\"path\", <table root>)"))
    val spark = SparkSession.active
    val v = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map(ts =>
        SnapshotTable.versionAsOf(spark, root, ts.toLong)))
      // branch=<name>: read (or stream) the BRANCH's view — batch
      // reads pin its head, streams follow its nx chain
      .orElse(Option(options.get("branch")).map(b =>
        SnapshotTable.branchHead(spark, root, b)))
      .getOrElse(SnapshotTable.currentVersion(spark, root))
    (root, v)
  }

  override def inferSchema(options: CaseInsensitiveStringMap)
  : StructType = {
    val spark = SparkSession.active
    val (root, v) = resolve(options)
    require(v > 0L,
      s"no committed version at $root — bootstrap the table first " +
        "(SnapshotTable.commit / createEmpty, or the catalog's " +
        "CREATE TABLE)")
    val base = GraftSnapshotSource.schemaOf(spark, root, v)
    // changes=true: the CHANGELOG stream — each row is a change event
    // (insert / delete) stamped with its commit version
    if (options.getBoolean("changes", false))
      GraftSnapshotSource.withCdcColumns(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (root, v) = resolve(options)
    new GraftSnapshotTable(root, v, schema)
  }

  override def supportsExternalMetadata(): Boolean = false
}

private[connector] object GraftSnapshotSource {
  val SupportedTypes: Set[DataType] = Set(ByteType, ShortType,
    IntegerType, LongType, FloatType, DoubleType, BooleanType,
    StringType, BinaryType, TimestampType, TimestampNTZType, DateType)

  /** Atomic leaves (decimals at any precision/scale) plus ARRAY /
    * STRUCT / MAP compositions to any depth — the type domain Spark's
    * `ParquetWriteSupport` writes and its vectorized reader decodes. */
  def supported(dt: DataType): Boolean = dt match {
    case ArrayType(e, _) => supported(e)
    case StructType(fs) => fs.forall(f => supported(f.dataType))
    case MapType(k, v, _) => supported(k) && supported(v)
    case _: DecimalType => true
    case other => SupportedTypes.contains(other)
  }

  /** Changelog metadata columns (Delta CDF's naming): every change
    * row carries what happened and in which commit. */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def withCdcColumns(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))

  def schemaOf(spark: SparkSession, root: String, v: Long): StructType = {
    val (entries, mSchema) = SnapshotTable.readManifestFull(spark, root, v)
    val st = mSchema.getOrElse {
      val data = entries.find(_.kind == "d").getOrElse(
        throw new IllegalStateException(
          s"version $v at $root has no data files to infer a schema " +
            "from"))
      spark.read.parquet(new Path(root, data.path).toString).schema
    }
    st.fields.foreach(f => require(supported(f.dataType),
      s"graft-snapshot does not read ${f.dataType.simpleString} " +
        s"column '${f.name}'"))
    StructType(st.fields.map(_.copy(nullable = true)))
  }
}

private[connector] class GraftSnapshotTable(root: String, version: Long,
    tableSchema: StructType) extends Table
  with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE t`: a REPLACE commit with an empty file set
    * — the history keeps every pre-truncate version (time travel and
    * tagged reads still serve them; expiry reaps them on its own
    * schedule), exactly like INSERT OVERWRITE of zero rows. Streams
    * refuse the non-accretive range, as they must. */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val seg = new Path(root,
      s"_data/trunc-${java.util.UUID.randomUUID()}")
    SnapshotTable.fs(spark, root).mkdirs(seg)
    SnapshotTable.replaceStaged(spark, root, seg, Seq.empty,
      tableSchema)
    true
  }

  /** `SELECT _file FROM t` — the data file each row came from
    * (Iceberg's `_file` / parquet's `_metadata.file_path`). Also the
    * load-bearing half of the row-level contract: Spark applies the
    * ReplaceData row projection ONLY through the metadata-writing
    * task, so the row-level operation REQUIRES this column to get
    * correctly-aligned rows to the writer. The scan supplies the
    * value per file as a constant fill over the decoded batch; a table
    * whose schema stores a `_file` data column serves that column
    * instead, per
    * [[org.apache.spark.sql.connector.catalog.SupportsMetadataColumns]]
    * conflict rules. */
  override def metadataColumns()
  : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftFileMetadataColumn)

  override def name(): String = s"graft_snapshot(`$root` v$version)"

  private lazy val persistedProps: Map[String, String] =
    SnapshotTable.tableProperties(SparkSession.active, root)

  /** The declared layout as V2 transforms — DESCRIBE / SHOW CREATE
    * TABLE render it back as the PARTITIONED BY clause it came from.
    * Planning does not read this: the SCAN reports (and re-verifies
    * file purity for) its own KeyGroupedPartitioning. */
  override def partitioning(): Array[Transform] = {
    val buckets = SnapshotTable.bucketLayoutOf(persistedProps)
      .toSeq.flatten.map { case (k, n) =>
        org.apache.spark.sql.connector.expressions.Expressions
          .bucket(n, k) }
    val ident = SnapshotTable.partitionKeysOf(persistedProps)
      .map(k => org.apache.spark.sql.connector.expressions.Expressions
        .identity(k))
    (buckets ++ ident).toArray
  }

  /** The manifest schema, with one adjustment: a declared
    * `write.merge.key` column surfaces NON-NULLABLE. That property is
    * the user's row-id contract ("this column uniquely and non-nully
    * identifies rows" — the same contract the native mergeOnRead key
    * carries), and Spark's delta row-level rewrite refuses nullable
    * row ids outright. Storage stays nullable-lenient; the marking is
    * the declaration, not an inference. */
  override def schema(): StructType =
    persistedProps.get("write.merge.key") match {
      case Some(k) => StructType(tableSchema.fields.map(f =>
        if (f.name.equalsIgnoreCase(k)) f.copy(nullable = false) else f))
      case None => tableSchema
    }

  /** AUTOMATIC_SCHEMA_EVOLUTION opts into `MERGE WITH SCHEMA
    * EVOLUTION INTO`: the analyzer diffs the source schema against
    * this table, routes the additive columns through the catalog's
    * `alterTable` (the same metadata-only ADD COLUMNS commit), and
    * reloads — old files read NULL for the new columns, the rewrite
    * writes them for touched rows. Non-additive diffs (type changes,
    * nested splices) are refused by `alterTable`, the boundary the
    * format draws everywhere. */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** `startingVersion` (streaming reads, Delta's option): `"latest"`
    * = only commits made after the stream starts; `N` = begin with
    * version N's changes. Default remains 0 — replay the full
    * history. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder =
    if (options.getBoolean("changes", false)) {
      // the CHANGELOG stream: row-level change events, not snapshots.
      // The provider's inferSchema appended the CDC columns, so this
      // mode is reached through the path-based readStream
      require(tableSchema.fieldNames
        .contains(GraftSnapshotSource.ChangeTypeCol),
        "changes=true is the path-based changelog stream: " +
          "spark.readStream.format(\"graft-snapshot\")" +
          ".option(\"path\", root).option(\"changes\", \"true\") — " +
          "for batch change sets use t.changes / t.delete_keys")
      val scan = new GraftChangesScan(root, tableSchema,
        Option(options.get("startingVersion")),
        Option(options.get("branch")),
        options.getBoolean("preImages", false),
        StreamLimits.from(options))
      new ScanBuilder { override def build(): Scan = scan }
    } else new GraftScanBuilder(SparkSession.active, root, version,
      tableSchema,
      streamStart = Option(options.get("startingVersion")),
      streamBranch = Option(options.get("branch")),
      streamLimits = StreamLimits.from(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(root, info)

  /** V2 columns with their declared DEFAULTs re-attached (from the
    * `graft.default.*` properties the catalog persisted) — Spark's
    * INSERT resolution reads the default off the column metadata and
    * fills omitted columns itself; the connector only declares. */
  override def columns()
  : Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.Column
    if (!persistedProps.keys.exists(_.startsWith("graft.default.")))
      return super.columns()
    schema().fields.map { f =>
      GraftDefaults.decode(persistedProps, f.name) match {
        case Some(d) => Column.create(f.name, f.dataType, f.nullable,
          null, d, null)
        case None => Column.create(f.name, f.dataType, f.nullable)
      }
    }
  }

  /** Enforced CHECK constraints, from the `graft.check.*` properties
    * the catalog's CREATE/ALTER TABLE persisted. Spark's write
    * planning reads these and injects per-row validation into every
    * V2 write against this table — the connector only declares, the
    * engine enforces. */
  override def constraints()
  : Array[org.apache.spark.sql.connector.catalog.constraints
      .Constraint] =
    persistedProps.toSeq
      .collect { case (k, sql) if k.startsWith("graft.check.") =>
        k.stripPrefix("graft.check.") -> sql }
      .sortBy(_._1)
      .map { case (name, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(name).predicateSql(sql).enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.UNVALIDATED)
          .rely(false).build()
          : org.apache.spark.sql.connector.catalog.constraints
            .Constraint
      }.toArray

  /** SQL `DELETE FROM graft.db.t WHERE …` — filter-based DSv2 delete
    * routed to [[SnapshotTable.deleteFilters]]: files whose manifest
    * stats prove every row matches are dropped by metadata edit
    * alone, a pushdown scan finds which remaining files actually hold
    * matches, and only those are rewritten. Predicates outside the
    * translatable subset are REFUSED here (Spark raises an analysis
    * error) rather than risked — the user can always delete through
    * the programmatic [[SnapshotTable.deleteWhere]] Column API, which
    * scans instead of classifying. Deletes always run against the
    * CURRENT version (CAS + re-derive, the merge contract); prior
    * versions still time-travel to the deleted rows. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    // a table declaring write.delete.mode=merge-on-read asked for
    // O(batch) tombstone deletes: decline the filter path (which
    // rewrites matching files copy-on-write) so Spark routes through
    // the row-level MOR builder — Iceberg's knob, honored the same way
    !SnapshotTable.tableProperties(SparkSession.active, root)
      .get("write.delete.mode").contains("merge-on-read") &&
      filters.forall(SnapshotTable.filterCondition(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit =
    SnapshotTable.deleteFilters(SparkSession.active, root,
      filters.toIndexedSeq)

  /** Persisted TBLPROPERTIES (`_properties` side file) — the
    * `write.*.mode = merge-on-read` knobs steer the row-level path
    * below, mirroring the reference's Iceberg table properties. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    SnapshotTable.tableProperties(SparkSession.active, root)
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** SQL `UPDATE` / `MERGE INTO` / group-based `DELETE`. Two
    * executions, chosen by the table's properties per command
    * (Iceberg's exact knobs): copy-on-write by default
    * ([[GraftRowLevelOperation]] — affected files rewritten, best for
    * read-heavy tables), or MERGE-ON-READ when `write.delete.mode` /
    * `write.update.mode` / `write.merge.mode` (or blanket
    * `write.mode`) = `merge-on-read` ([[GraftDeltaOperation]] —
    * O(batch) tombstone+insert commits, best for frequent small
    * updates; `compact` restores the read-optimized layout).
    * Untranslatable DELETE predicates, which `canDeleteWhere` refuses
    * for the metadata path, execute through whichever path the table
    * asks for instead of erroring. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
  : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val spark = SparkSession.active
    val props = SnapshotTable.tableProperties(spark, root)
    val modeKey = info.command() match {
      case Command.DELETE => "write.delete.mode"
      case Command.UPDATE => "write.update.mode"
      case _ => "write.merge.mode"
    }
    val mor = props.get(modeKey).orElse(props.get("write.mode"))
      .exists(_.equalsIgnoreCase("merge-on-read"))
    if (!mor)
      new GraftRowLevelOperationBuilder(root, version, tableSchema, info)
    else {
      // the property is REQUIRED (no cluster-key fallback): it doubles
      // as the non-null row-id declaration in schema(), which Spark's
      // delta rewrite insists on
      val declared = props.get("write.merge.key")
        .getOrElse(throw new IllegalArgumentException(
          s"merge-on-read row-level operations at $root need a row " +
            "id: set TBLPROPERTIES('write.merge.key'='<col>')"))
      // canonical field name: tombstone keys must match the table's
      // column spelling exactly (prior tombstones join by this name)
      val key = tableSchema.fields
        .find(_.name.equalsIgnoreCase(declared))
        .getOrElse(throw new IllegalArgumentException(
          s"merge key '$declared' is not a column of $root")).name
      new GraftDeltaOperationBuilder(root, version, tableSchema, info,
        key)
    }
  }
}

/** A snapshot read pinned to an explicit entry set: [[SnapshotTable]]
  * decides which files (data files plus the tombstones that apply to
  * them), this scan reads them — rename epochs, initial defaults and
  * merge-on-read kills, file and row-group pruning, and `_file` — so
  * every read of a snapshot runs one engine. `readSchema` carries the
  * field metadata the scan applies; zero data files plan an empty
  * scan. */
private[graft] class GraftPinnedTable(spark: SparkSession, root: String,
    version: Long, readSchema: StructType, entries: Seq[FileEntry])
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft_snapshot(`$root` v$version)"
  override def schema(): StructType = readSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def metadataColumns()
  : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftFileMetadataColumn)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = new GraftScanBuilder(spark, root, version, readSchema,
    entryView = _ => entries)
}

private[graft] object GraftPinnedTable {
  /** `entries` of version `v` read under `schema` (nullable, metadata
    * kept); without one — a pre-schema v1 manifest — under the first
    * data file's footer schema. */
  def frame(spark: SparkSession, root: String, v: Long,
      entries: Seq[FileEntry], schema: Option[StructType])
  : org.apache.spark.sql.DataFrame = {
    val st = schema.fold(GraftSnapshotSource.schemaOf(spark, root, v))(s =>
      StructType(s.fields.map(_.copy(nullable = true))))
    org.apache.spark.sql.graft.GraftFrames.of(spark,
      new GraftPinnedTable(spark, root, v, st, entries))
  }
}

private[connector] object GraftFileMetadataColumn
  extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  val Name = "_file"
  override def name(): String = Name
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String =
    "absolute path of the data file holding the row"
}

private[graft] class GraftScanBuilder(spark: SparkSession, root: String,
    version: Long, fullSchema: StructType,
    onPlan: Option[Seq[FileEntry] => Unit] = None,
    entryView: Seq[FileEntry] => Seq[FileEntry] = identity,
    streamStart: Option[String] = None,
    streamBranch: Option[String] = None,
    streamLimits: StreamLimits = StreamLimits.none)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates
  with SupportsPushDownLimit with SupportsPushDownTopN
  with SupportsPushDownOffset {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var aggAnswer
  : Option[(StructType, Array[Array[String]], String)] = None
  private var limitKept: Option[(Seq[FileEntry], String)] = None
  private var limitIsTopN = false
  // (files surviving the skip, rows still to skip in the FIRST one, desc)
  private var offsetSkip: Option[(Seq[FileEntry], Long, String)] = None

  // both pushdown traits default this true; Scala needs the diamond
  // resolved explicitly. True = Spark always re-applies the exact
  // limit/sort on the surviving rows — file pruning is IO reduction,
  // never semantics.
  override def isPartiallyPushed(): Boolean = true

  /** The manifest entries this builder plans over, read once: every
    * pushdown and the build see them through the view hook, so a
    * derived scan (the `t.changes` incremental table, or a
    * [[SnapshotTable]] read pinned to an explicit entry set) prunes,
    * counts and plans against ITS file set consistently. */
  private lazy val viewed: Seq[FileEntry] =
    entryView(SnapshotTable.readManifest(spark, root, version))

  /** The table's properties (its declared layouts), read once. */
  private lazy val props = SnapshotTable.tableProperties(spark, root)

  /** Push every comparison and equality/IN. The driver prunes files
    * with the manifest's stats and blooms where it has them
    * ([[GraftPruning]] keeps every file it cannot judge), and the
    * readers prune row groups with the footers' stats, which every
    * column carries. EVERYTHING is returned as residual — the
    * connector skips files and row groups, Spark still evaluates
    * rows, so pushdown can only cut IO. (With merge-on-read
    * tombstones this stays sound: pruning skips DATA only, and
    * tombstones only ever REMOVE rows — a skipped file's rows could
    * not have matched the filter anyway.) */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val entries = viewed.filter(_.kind == "d")
    pushed = filters.filter {
      case _: EqualTo | _: In | _: GreaterThan | _: GreaterThanOrEqual |
          _: LessThan | _: LessThanOrEqual => true
      case _ => false
    }
    // CONSUME (return no residual for) filters this scan can decide
    // EXACTLY at file granularity: when every data file is VALUE-PURE
    // on its stats column (identity-partitioned tables), a comparison
    // of that column against a renderable literal holds for ALL of a
    // file's rows or NONE — keeping exactly the matching files IS the
    // filter. Spark then plans no re-evaluation, which unlocks
    // FILTERED manifest aggregates: `SELECT count(*) WHERE day = 'x'`
    // stays a zero-IO metadata read. Anything unprovable stays
    // residual, as before.
    // candidate pure columns: the primary stats slot's column plus
    // any further DECLARED identity keys (a composite layout records
    // the tail keys' constants as extraStats ranges + null counts) —
    // each verified value-pure on every file, never trusted from the
    // declaration alone
    val declared = SnapshotTable.partitionKeysOf(props)
    val pureCols: Seq[(String, DataType)] =
      (entries.headOption.flatMap(_.statsKey).toSeq ++ declared)
        .distinct
        .flatMap(k => fullSchema.fields
          .find(_.name.equalsIgnoreCase(k))
          .map(f => (k, f.dataType)))
        .filter { case (k, dt) =>
          SnapshotTable.partitionableType(dt) && entries.nonEmpty &&
            entries.forall(GraftScan.pureValueOf(_, k).isDefined)
        }
    consumed = pureCols.flatMap { case (k, dt) =>
      val cmp = SnapshotTable.statOrdering(dt)
        .getOrElse((a: String, b: String) => a.compareTo(b))
      filters.toSeq.flatMap(f => constEval(f, k, dt, cmp).map(p =>
        f -> ((e: FileEntry) => p(GraftScan.pureValueOf(e, k).get))))
    }
    val consumedSet = consumed.map(_._1).toSet
    filters.filterNot(consumedSet)
  }

  /** Filters consumed by exact per-file evaluation against a
    * value-pure column; (filter, evaluator over the file entry —
    * reading its recorded constant for that column). */
  private var consumed: Seq[(Filter, FileEntry => Boolean)] = Nil

  /** Render `v` exactly as the stats pass rendered the column
    * (cast-to-string); None keeps the filter residual. Integral
    * types match only on exact integral literals — a fractional
    * literal against an int column must NOT round. */
  private def renderLit(v: Any, dt: DataType): Option[String] =
    (v, dt) match {
      case (null, _) => None
      case (s: String, StringType) => Some(s)
      case (s: UTF8String, StringType) => Some(s.toString)
      case (n: java.lang.Integer,
        IntegerType | LongType | ShortType | ByteType) =>
        Some(n.toString)
      case (n: java.lang.Long,
        IntegerType | LongType | ShortType | ByteType) =>
        Some(n.toString)
      case (n: java.lang.Short,
        IntegerType | LongType | ShortType | ByteType) =>
        Some(n.toString)
      case (n: java.lang.Byte,
        IntegerType | LongType | ShortType | ByteType) =>
        Some(n.toString)
      case (d: java.sql.Date, DateType) => Some(d.toLocalDate.toString)
      case (d: java.time.LocalDate, DateType) => Some(d.toString)
      case _ => None
    }

  /** The filter as an exact predicate over a file's CONSTANT value of
    * `key` (its stats string), or None when it cannot be decided at
    * file granularity. IsNotNull is vacuously true: purity includes a
    * zero recorded null count. */
  private def constEval(f: Filter, key: String, dt: DataType,
      cmp: (String, String) => Int): Option[String => Boolean] =
    f match {
      case EqualTo(c, v) if c.equalsIgnoreCase(key) =>
        renderLit(v, dt).map(l => s => cmp(s, l) == 0)
      case In(c, vs) if c.equalsIgnoreCase(key) && vs.nonEmpty =>
        val ls = vs.toSeq.map(renderLit(_, dt))
        if (ls.exists(_.isEmpty)) None
        else {
          val set = ls.flatten
          Some(s => set.exists(cmp(s, _) == 0))
        }
      case GreaterThan(c, v) if c.equalsIgnoreCase(key) =>
        renderLit(v, dt).map(l => s => cmp(s, l) > 0)
      case GreaterThanOrEqual(c, v) if c.equalsIgnoreCase(key) =>
        renderLit(v, dt).map(l => s => cmp(s, l) >= 0)
      case LessThan(c, v) if c.equalsIgnoreCase(key) =>
        renderLit(v, dt).map(l => s => cmp(s, l) < 0)
      case LessThanOrEqual(c, v) if c.equalsIgnoreCase(key) =>
        renderLit(v, dt).map(l => s => cmp(s, l) <= 0)
      case org.apache.spark.sql.sources.IsNotNull(c)
        if c.equalsIgnoreCase(key) => Some(_ => true)
      case _ => None
    }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COMPLETE aggregate pushdown answered from the MANIFEST — zero
    * data files opened. Scope: ungrouped COUNT(*) from the per-file
    * footer row counts, MIN/MAX on a column every data file carries
    * min/max stats for (cluster or Z-order key); and GROUP BY one
    * column when every data file is VALUE-PURE on it (recorded
    * min == max, zero nulls — identity-partitioned tables by
    * construction), where COUNT(*)/COUNT(key)/MIN(key)/MAX(key) per
    * group reduce to sums of footer counts and the constants
    * themselves. At 100 TB that turns "rows per day over a petabyte"
    * into a pure metadata read. Declines whenever the manifest cannot
    * answer EXACTLY: any tombstone present (a merge-on-read count
    * must read the delete vectors), any file missing a count or the
    * column's stats, a residual-able pushed filter, a value-impure
    * file under GROUP BY, or an unorderable column type — Spark then
    * plans the ordinary scan and the answer is computed from rows. */
  // supportCompletePushDown and pushAggregation arrive back-to-back
  // with the same Aggregation: memoize by instance so the manifest
  // read + per-group folds run once per planned aggregate, not twice.
  // INVARIANT this depends on: Spark passes the IDENTICAL Aggregation
  // instance to both calls (V2ScanRelationPushDown translates once and
  // reuses the object). The `eq` guard means a planner that ever
  // re-translates falls back to recomputing — never serves a stale
  // answer for a DIFFERENT aggregate — so the cache can only cost
  // time, not correctness.
  private var answered
  : Option[(Aggregation, Option[(StructType, Array[Array[String]],
    String)])] = None

  private def tryAnswerCached(agg: Aggregation)
  : Option[(StructType, Array[Array[String]], String)] = {
    answered match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = tryAnswer(agg)
        answered = Some((agg, r))
        r
    }
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    tryAnswerCached(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggAnswer = tryAnswerCached(agg)
    aggAnswer.isDefined
  }

  /** Pushed filters block manifest answers UNLESS every one was
    * CONSUMED (decided exactly per file); consumed filters then apply
    * as the same per-file evaluation here — `count(*) WHERE day='x'`
    * answers from the matching files' footer counts alone. */
  private def residualBlocks: Boolean =
    pushed.exists(p => !consumed.exists(_._1 == p))

  private def consumedKeep(data: Seq[FileEntry]): Seq[FileEntry] =
    if (consumed.isEmpty) data
    else data.filter(e => consumed.forall(_._2(e)))

  /** Single-name column reference, the only shape manifest answers
    * understand. */
  private def singleName(c: org.apache.spark.sql.connector.expressions
      .Expression): Option[String] = c match {
    case fr: NamedReference if fr.fieldNames().length == 1 =>
      Some(fr.fieldNames()(0))
    case _ => None
  }

  /** The per-file exact-sum feed for SUM/AVG pushdown: for a summable
    * column, the EXACT total and non-null row count over `data` —
    * every file must either carry a non-sentinel `__sum:` slot
    * (recorded by analyze / the identity writer) plus its row and
    * null counts, or provably store no non-null values (nulls ==
    * rows, which SQL SUM ignores). None = the manifest cannot answer
    * exactly — an overflow sentinel, a pre-analyze file, a missing
    * count — and Spark plans the ordinary scan. */
  private def exactSum(name: String, data: Seq[FileEntry])
  : Option[(java.math.BigDecimal, Long)] = {
    val field = fullSchema.fields.find(_.name == name)
      .getOrElse(return None)
    if (!SnapshotTable.summable(field.dataType)) return None
    var total = java.math.BigDecimal.ZERO
    var nonNull = 0L
    data.foreach { e =>
      val rows = e.rows.getOrElse(return None)
      val nulls = e.colNulls.collectFirst {
        case (n, c) if n.equalsIgnoreCase(name) => c }
        .getOrElse(return None)
      e.statsFor(SnapshotTable.sumKey(name)) match {
        case Some((v, _)) =>
          if (SnapshotTable.sumUnavailable(v)) return None
          // a corrupt/truncated slot declines to the scan path —
          // plan time must never throw on manifest content
          val parsed = try new java.math.BigDecimal(v) catch {
            case _: NumberFormatException => return None
          }
          total = total.add(parsed)
          nonNull += rows - nulls
        case None =>
          if (nulls != rows) return None
      }
    }
    Some((total, nonNull))
  }

  /** Exact MIN or MAX of a TIMESTAMP column over `data`, from the
    * `__tsu:` epoch-micros slots: every file must carry the slot
    * (non-sentinel) or provably store no non-null values. Returns
    * None = decline; Some(None) = SQL NULL (no non-null rows);
    * Some(Some(micros)) = the bound. */
  private def tsBound(name: String, data: Seq[FileEntry],
      isMin: Boolean): Option[Option[Long]] = {
    val vals = data.flatMap { e =>
      e.statsFor(SnapshotTable.tsuKey(name)) match {
        case Some((lo, hi)) =>
          if (SnapshotTable.sumUnavailable(lo)) return None
          // corrupt slot -> decline, never throw at plan time
          Some(try { if (isMin) lo.toLong else hi.toLong } catch {
            case _: NumberFormatException => return None
          })
        case None =>
          val rows = e.rows.getOrElse(return None)
          val nulls = e.colNulls.collectFirst {
            case (n, c) if n.equalsIgnoreCase(name) => c }
            .getOrElse(return None)
          if (nulls != rows) return None
          None
      }
    }
    Some(if (vals.isEmpty) None
    else Some(if (isMin) vals.min else vals.max))
  }

  /** Spark's SUM result type: LongType for integrals, scale-preserving
    * precision+10 (capped 38) for decimals — the manifest answer must
    * land in the type the rewritten Aggregate expects. */
  private def sumResultType(dt: DataType): DataType = dt match {
    case d: DecimalType =>
      DecimalType(math.min(38, d.precision + 10), d.scale)
    case _ => LongType
  }

  /** Render an exact sum in SQL SUM's answer domain: NULL over zero
    * non-null rows; any total that does not FIT the result type
    * returns None — Spark's own overflow behavior is mode-dependent
    * (ANSI throws, legacy wraps longs / NULLs decimals), so the only
    * universally-sound manifest answer is to decline and let the
    * scan path own the overflow. */
  private def renderSum(resType: DataType, total: java.math.BigDecimal,
      nonNull: Long): Option[String] =
    if (nonNull == 0L) Some(null)
    else resType match {
      case d: DecimalType =>
        // setScale throws when a corrupt slot carries MORE scale than
        // the column type allows — decline to the scan, never throw
        val t = try total.setScale(d.scale) catch {
          case _: ArithmeticException => return None
        }
        if (t.precision <= d.precision) Some(t.toPlainString) else None
      case _ =>
        val lo = java.math.BigDecimal.valueOf(Long.MinValue)
        val hi = java.math.BigDecimal.valueOf(Long.MaxValue)
        if (total.compareTo(lo) >= 0 && total.compareTo(hi) <= 0)
          try Some(total.longValueExact.toString) catch {
            case _: ArithmeticException => None // fractional slot
          }
        else None
    }

  private def tryAnswer(agg: Aggregation)
  : Option[(StructType, Array[Array[String]], String)] = {
    if (residualBlocks) return None
    if (agg.groupByExpressions().nonEmpty) return tryGrouped(agg)
    val entries = viewed
    val (tombs, data0) = entries.partition(_.kind == "t")
    if (tombs.nonEmpty) return None // MOR: manifest counts overcount
    val data = consumedKeep(data0)

    def minMax(colExpr: org.apache.spark.sql.connector.expressions
        .Expression, isMin: Boolean): Option[(StructField, String)] =
      colExpr match {
        case fr: NamedReference if fr.fieldNames().length == 1 =>
          val name = fr.fieldNames()(0)
          val field = fullSchema.fields.find(_.name == name)
            .getOrElse(return None)
          val tag = if (isMin) "min" else "max"
          // TIMESTAMPS answer from the `__tsu:` epoch-micros slots —
          // TZ-independent instants (the string-rendered range slots
          // are only comparable under the session zone that rendered
          // them). All-null files legitimately have no slot and
          // contribute nothing, exactly as SQL MIN/MAX do.
          if (field.dataType == TimestampType) {
            val v = tsBound(name, data, isMin).getOrElse(return None)
            return Some((StructField(s"$tag($name)", TimestampType,
              nullable = true), v.map(_.toString).orNull))
          }
          field.dataType match {
            case IntegerType | LongType | ShortType | ByteType |
                 FloatType | DoubleType | StringType | DateType |
                 _: DecimalType =>
            case _ => return None
          }
          if (data.isEmpty) // empty table: SQL min/max = NULL
            return Some((StructField(s"$tag($name)",
              field.dataType, nullable = true), null))
          val cmp = SnapshotTable.statOrdering(field.dataType)
            .getOrElse(return None)
          // a file with NO recorded range is answerable only when it
          // provably stores no non-null values (recorded min/max
          // ignore nulls, as SQL MIN/MAX do) — it contributes nothing
          val bounds = data.flatMap { e =>
            e.statsFor(name) match {
              case Some(b) => Some(b)
              case None =>
                val rows = e.rows.getOrElse(return None)
                val nulls = e.colNulls.collectFirst {
                  case (n, c) if n.equalsIgnoreCase(name) => c }
                  .getOrElse(return None)
                if (nulls != rows) return None
                None
            }
          }
          if (bounds.isEmpty) // every row NULL: SQL min/max = NULL
            return Some((StructField(s"$tag($name)",
              field.dataType, nullable = true), null))
          val v =
            if (isMin) bounds.map(_._1).min(Ordering.fromLessThan[String](
              (a, b) => cmp(a, b) < 0))
            else bounds.map(_._2).max(Ordering.fromLessThan[String](
              (a, b) => cmp(a, b) < 0))
          Some((StructField(s"$tag($name)",
            field.dataType, nullable = true), v))
        case _ => None
      }

    val answered = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        if (data.exists(_.rows.isEmpty)) return None
        (StructField("count(*)", LongType, nullable = false),
          data.map(_.rows.get).sum.toString)
      case m: Min => minMax(m.column, isMin = true).getOrElse(return None)
      case m: Max => minMax(m.column, isMin = false).getOrElse(return None)
      // COUNT(col) = Σ(rows − nulls) over the kept files — needs the
      // per-file null count analyze records for every column
      case c: Count if !c.isDistinct =>
        val name = singleName(c.column).getOrElse(return None)
        val cnt = data.foldLeft(0L) { (acc, e) =>
          val rows = e.rows.getOrElse(return None)
          val nulls = e.colNulls.collectFirst {
            case (n, v) if n.equalsIgnoreCase(name) => v }
            .getOrElse(return None)
          acc + (rows - nulls)
        }
        (StructField(s"count($name)", LongType, nullable = false),
          cnt.toString)
      // COUNT(DISTINCT col) is EXACT when every kept file is
      // value-pure on the column (one value, zero nulls — identity
      // tables by construction): the distinct set is the set of
      // per-file constants, and consumed filters keep/drop whole
      // files so the kept constants are exactly the matching values
      case c: Count if c.isDistinct =>
        val name = singleName(c.column).getOrElse(return None)
        if (!data.forall(GraftScan.pureValueOf(_, name).isDefined))
          return None
        (StructField(s"count(DISTINCT $name)", LongType,
          nullable = false),
          data.map(GraftScan.pureValueOf(_, name).get)
            .distinct.size.toLong.toString)
      // SUM from the per-file exact-sum slots: at 100 TB,
      // `sum(amount)` over a petabyte becomes a pure metadata read
      case s: VSum if !s.isDistinct =>
        val name = singleName(s.column).getOrElse(return None)
        val field = fullSchema.fields.find(_.name == name)
          .getOrElse(return None)
        val (total, nonNull) = exactSum(name, data)
          .getOrElse(return None)
        val resType = sumResultType(field.dataType)
        (StructField(s"sum($name)", resType, nullable = true),
          renderSum(resType, total, nonNull).getOrElse(return None))
      // AVG is NEVER answered from the manifest — by the same rule
      // that excludes float/double SUM: Spark's scan-path Average
      // accumulates its sum in a DOUBLE buffer even for integral
      // inputs (order-dependent IEEE addition), so an exact-sum
      // manifest answer could differ in the last ulp from what the
      // same query returns once a filter pushes it onto the scan.
      // One query, one answer: AVG stays on the scan path.
      case _ => return None
    }
    Some((StructType(answered.map(_._1)),
      Array(answered.map(_._2).toArray),
      answered.map(_._1.name).mkString(", ")))
  }

  /** GROUP BY pushdown: sound exactly when every data file is
    * value-pure on EVERY group column — each file then belongs to ONE
    * group, and per-group aggregates are sums/constants over the
    * manifest. One or MORE group columns (a composite identity layout
    * `PARTITIONED BY (a, b)` makes files pure on the whole tuple, and
    * any SUBSET of pure columns groups exactly too). The output
    * schema is `group columns :: aggregate columns` (Spark's
    * complete-pushdown contract), rows ordered by the group tuple so
    * plans are deterministic. */
  private def tryGrouped(agg: Aggregation)
  : Option[(StructType, Array[Array[String]], String)] = {
    val groupCols: Seq[String] = {
      val cs = agg.groupByExpressions().toSeq.map {
        case fr: NamedReference if fr.fieldNames().length == 1 =>
          fr.fieldNames()(0)
        case _ => return None
      }
      if (cs.isEmpty || cs.distinct.size != cs.size) return None
      cs
    }
    val groupFields = groupCols.map(c =>
      fullSchema.fields.find(_.name == c).getOrElse(return None))
    groupFields.foreach(_.dataType match {
      case IntegerType | LongType | ShortType | ByteType |
           StringType | DateType =>
      case _ => return None
    })
    val entries = viewed
    val (tombs, data0) = entries.partition(_.kind == "t")
    if (tombs.nonEmpty || data0.isEmpty) return None
    // value-purity per file ON EVERY group column (the shared
    // predicate), plus footer row counts — the per-group COUNTs are
    // sums of them. Identity-partitioned writes guarantee all of it;
    // anything else declines.
    if (!groupCols.forall(c =>
        data0.forall(GraftScan.pureValueOf(_, c).isDefined)) ||
      !data0.forall(_.rows.isDefined)) return None
    // consumed filters restrict the group universe exactly (they are
    // predicates over the same per-file constants)
    val data = consumedKeep(data0)
    // the index of the group column `c` names, or -1
    def groupIdx(c: org.apache.spark.sql.connector.expressions
        .Expression): Int = c match {
      case fr: NamedReference if fr.fieldNames().length == 1 =>
        groupCols.indexOf(fr.fieldNames()(0))
      case _ => -1
    }
    def isGroupCol(c: org.apache.spark.sql.connector.expressions
        .Expression): Boolean = groupIdx(c) >= 0
    // a NON-group column is still answerable when EVERY data file
    // records its [lo, hi] (Z-order secondaries, grid extras): MIN
    // and MAX decompose over any partition of the rows, so the group
    // aggregate is the min of its files' los / max of their his.
    // NULL-safe for free — recorded stats ignore nulls, as SQL
    // MIN/MAX do; an all-null file has no stats and declines here.
    def statsCol(c: org.apache.spark.sql.connector.expressions
        .Expression): Option[(StructField, (String, String) => Int)] =
      c match {
        case fr: NamedReference if fr.fieldNames().length == 1 =>
          val f2 = fullSchema.fields.find(_.name == fr.fieldNames()(0))
            .getOrElse(return None)
          f2.dataType match {
            case IntegerType | LongType | ShortType | ByteType |
                 FloatType | DoubleType | StringType | DateType |
                 _: DecimalType =>
            case _ => return None
          }
          if (!data.forall(_.statsFor(f2.name).isDefined)) return None
          SnapshotTable.statOrdering(f2.dataType).map((f2, _))
        case _ => None
      }
    // (output field, per-group value from (groupValue, groupFiles))
    type Files = Seq[graft.sources.SnapshotTable.FileEntry]
    // SUM/AVG/COUNT(col) group answers are PRECOMPUTED here so any
    // per-group decline (overflow sentinel, missing slot/count)
    // rejects the whole pushdown at construction — a closure cannot
    val groupsPre: Map[Seq[String], Seq[FileEntry]] =
      data.groupBy(e => groupCols.map(GraftScan.pureValueOf(e, _).get))
    def perGroup(f: Seq[FileEntry] => Option[String])
    : Option[Map[Seq[String], String]] =
      Some(groupsPre.map { case (v, fs) =>
        v -> f(fs).getOrElse(return None) })
    val aggCols: Seq[(StructField, (Seq[String], Files) => String)] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          (StructField("count(*)", LongType, nullable = false),
            (_: Seq[String], fs: Files) =>
              fs.map(_.rows.get).sum.toString)
        case c: Count if !c.isDistinct && isGroupCol(c.column) =>
          // zero nulls per file, so COUNT(key) == COUNT(*)
          (StructField(s"count(${groupCols(groupIdx(c.column))})",
            LongType, nullable = false),
            (_: Seq[String], fs: Files) =>
              fs.map(_.rows.get).sum.toString)
        case c: Count if !c.isDistinct =>
          val name = singleName(c.column).getOrElse(return None)
          val counts = perGroup { fs =>
            fs.foldLeft(Option(0L)) { (acc, e) =>
              for {
                a <- acc; rows <- e.rows
                nulls <- e.colNulls.collectFirst {
                  case (n, v) if n.equalsIgnoreCase(name) => v }
              } yield a + (rows - nulls)
            }.map(_.toString)
          }.getOrElse(return None)
          (StructField(s"count($name)", LongType, nullable = false),
            (v: Seq[String], _: Files) => counts(v))
        case s: VSum if !s.isDistinct =>
          val name = singleName(s.column).getOrElse(return None)
          val f2 = fullSchema.fields.find(_.name == name)
            .getOrElse(return None)
          val resType = sumResultType(f2.dataType)
          // renderSum's Some(null) — a legitimate all-null-group SUM —
          // flows through flatMap untouched; only a DECLINE is None
          val sums = perGroup { fs =>
            exactSum(name, fs).flatMap { case (total, nonNull) =>
              renderSum(resType, total, nonNull) }
          }.getOrElse(return None)
          (StructField(s"sum($name)", resType, nullable = true),
            (v: Seq[String], _: Files) => sums(v))
        // AVG declines here for the same reason as the ungrouped path:
        // Spark's scan-path Average sums in a DOUBLE buffer even for
        // integral inputs, so an exact manifest answer could differ
        // from the scan's — one query, one answer.
        // COUNT(DISTINCT key) per group is 1 by value-purity (every
        // group's files all carry exactly that one non-null value)
        case c: Count if c.isDistinct && isGroupCol(c.column) =>
          (StructField(
            s"count(DISTINCT ${groupCols(groupIdx(c.column))})",
            LongType, nullable = false),
            (_: Seq[String], _: Files) => "1")
        case m: Min if isGroupCol(m.column) =>
          val i = groupIdx(m.column)
          (StructField(s"min(${groupCols(i)})",
            groupFields(i).dataType, nullable = true),
            (v: Seq[String], _: Files) => v(i))
        case m: Max if isGroupCol(m.column) =>
          val i = groupIdx(m.column)
          (StructField(s"max(${groupCols(i)})",
            groupFields(i).dataType, nullable = true),
            (v: Seq[String], _: Files) => v(i))
        // grouped MIN/MAX of a TIMESTAMP column: per-group epoch-
        // micros bounds from the `__tsu:` slots, precomputed so any
        // decline rejects the whole pushdown at construction
        case m: Min if singleName(m.column).exists(n =>
          fullSchema.fields.exists(f => f.name == n &&
            f.dataType == TimestampType)) =>
          val name = singleName(m.column).get
          val mins = perGroup(fs => tsBound(name, fs, isMin = true)
            .map(_.map(_.toString).orNull)).getOrElse(return None)
          (StructField(s"min($name)", TimestampType, nullable = true),
            (v: Seq[String], _: Files) => mins(v))
        case m: Max if singleName(m.column).exists(n =>
          fullSchema.fields.exists(f => f.name == n &&
            f.dataType == TimestampType)) =>
          val name = singleName(m.column).get
          val maxs = perGroup(fs => tsBound(name, fs, isMin = false)
            .map(_.map(_.toString).orNull)).getOrElse(return None)
          (StructField(s"max($name)", TimestampType, nullable = true),
            (v: Seq[String], _: Files) => maxs(v))
        case m: Min => statsCol(m.column).map { case (f2, c2) =>
          (StructField(s"min(${f2.name})", f2.dataType,
            nullable = true), (_: Seq[String], fs: Files) =>
            fs.map(_.statsFor(f2.name).get._1)
              .min(Ordering.fromLessThan[String](c2(_, _) < 0)))
        }.getOrElse(return None)
        case m: Max => statsCol(m.column).map { case (f2, c2) =>
          (StructField(s"max(${f2.name})", f2.dataType,
            nullable = true), (_: Seq[String], fs: Files) =>
            fs.map(_.statsFor(f2.name).get._2)
              .max(Ordering.fromLessThan[String](c2(_, _) < 0)))
        }.getOrElse(return None)
        case _ => return None
      }
    val cmps = groupFields.map(f =>
      SnapshotTable.statOrdering(f.dataType).getOrElse(return None))
    // lexicographic tuple order, per-column typed comparison
    def tupleLt(a: Seq[String], b: Seq[String]): Boolean = {
      var i = 0
      while (i < cmps.length) {
        val c = cmps(i)(a(i), b(i))
        if (c != 0) return c < 0
        i += 1
      }
      false
    }
    val rows = groupsPre.toSeq
      .sortWith((a, b) => tupleLt(a._1, b._1))
      .map { case (v, files) =>
        (v ++ aggCols.map(_._2(v, files))).toArray
      }.toArray
    Some((StructType(groupFields.map(_.copy(nullable = false)) ++
      aggCols.map(_._1)),
      rows,
      s"group by ${groupCols.mkString(", ")}: " +
        aggCols.map(_._1.name).mkString(", ")))
  }

  /** LIMIT pushdown answered at FILE granularity: with exact footer
    * row counts in the manifest, `LIMIT n` needs only a prefix of
    * files whose counts cover n — on a 1000-file table, `LIMIT 10`
    * plans one file. Sound only when nothing can REMOVE rows after
    * planning: no tombstones (MOR deletes shrink files below their
    * counts) and no pushed filters (Spark only pushes a limit with no
    * Filter in between, and this connector always keeps residuals, so
    * the guard is belt-and-braces). Partially-pushed always: Spark
    * still applies the exact limit on the rows that arrive. */
  override def pushLimit(limit: Int): Boolean = {
    val (tombs, data) = manifestSplit()
    if (tombs.nonEmpty || pushed.nonEmpty || limit <= 0) return false
    if (data.filter(_.rows.isDefined).map(_.rows.get).sum < limit)
      return false
    val kept = Seq.newBuilder[FileEntry]
    var cum = 0L
    var i = 0
    while (cum < limit && i < data.size) {
      kept += data(i)
      cum += data(i).rows.getOrElse(0L)
      i += 1
    }
    val k = kept.result()
    if (k.size == data.size) return false
    limitKept = Some((k, s"PushedLimit: LIMIT $limit"))
    true
  }

  /** Top-N pushdown over the CLUSTER KEY: files are disjoint ranges
    * on the key, so `ORDER BY key LIMIT n` needs only the head-most
    * files. The threshold argument: walking files by their tail-most
    * bound (hi for ASC, lo for DESC), once the walked files' provable
    * head-ward rows reach n, every file lying entirely beyond that
    * bound cannot contribute. NULL-sound via the manifest's per-file
    * null counts: a file's min/max ignore NULLs, so under NULLS FIRST
    * any file holding NULLs is always kept, and under NULLS LAST a
    * file's provable evidence is its non-null rows. Files missing
    * stats/counts are kept and contribute no evidence — fewer skips,
    * never a wrong skip. Spark still sorts + limits the survivors. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector
      .expressions.SortOrder], limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (orders.length != 1 || limit <= 0) return false
    val o = orders(0)
    val colName = o.expression() match {
      case fr: NamedReference if fr.fieldNames().length == 1 =>
        fr.fieldNames()(0)
      case _ => return false
    }
    val asc = o.direction() == SortDirection.ASCENDING
    val nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST
    val (tombs, data) = manifestSplit()
    if (tombs.nonEmpty || pushed.nonEmpty) return false
    val dt = fullSchema.fields.find(_.name == colName)
      .map(_.dataType).getOrElse(return false)
    val cmp = SnapshotTable.statOrdering(dt).getOrElse(return false)
    def cmpDir(a: String, b: String): Int =
      if (asc) cmp(a, b) else -cmp(a, b)
    // evidence files: slot-1 stats (null count is recorded for the
    // cluster key only) + footer rows
    val (ev, blind) = data.partition(e => e.statsKey.contains(colName) &&
      e.lo.isDefined && e.hi.isDefined && e.rows.isDefined &&
      e.statsNulls.isDefined)
    def tailBound(e: FileEntry): String = if (asc) e.hi.get else e.lo.get
    def headBound(e: FileEntry): String = if (asc) e.lo.get else e.hi.get
    def evidence(e: FileEntry): Long =
      if (nullsFirst) e.rows.get else e.rows.get - e.statsNulls.get
    val byTail = ev.sortWith((a, b) => cmpDir(tailBound(a), tailBound(b)) < 0)
    var cum = 0L
    var bound: Option[String] = None
    val it = byTail.iterator
    while (bound.isEmpty && it.hasNext) {
      val e = it.next()
      cum += evidence(e)
      if (cum >= limit) bound = Some(tailBound(e))
    }
    val b = bound.getOrElse(return false)
    val keptEv = ev.filter(e =>
      (nullsFirst && e.statsNulls.get > 0) || cmpDir(headBound(e), b) <= 0)
    if (keptEv.size + blind.size == data.size) return false
    limitKept = Some((keptEv ++ blind,
      s"PushedTopN: ORDER BY $colName ${if (asc) "ASC" else "DESC"} " +
        s"${if (nullsFirst) "NULLS FIRST" else "NULLS LAST"} LIMIT $limit"))
    limitIsTopN = true
    true
  }

  /** OFFSET pushdown, EXACT by contract: when this returns true Spark
    * deletes the Offset operator, so the scan must drop precisely
    * `offset` rows — whole head files whose exact footer counts fit
    * under the offset, plus an in-reader skip of the remainder in the
    * first surviving file. Sound only when counts are authoritative
    * (no tombstones) and nothing else drops rows before the skip (no
    * pushed filters — also keeps parquet row-group filtering off in
    * the reader). OFFSET without ORDER BY selects an arbitrary
    * complement, so "these particular rows" is any-`offset`-rows; the
    * skip is still made exact so a downstream kept LIMIT sees the
    * right count. Composes with a prior pushLimit (Spark pushes
    * `limit+offset` as the limit in the combined shape, so the prefix
    * covers the skip plus the limit); never with TopN — the head
    * files of a TopN-kept set are not a row-count prefix. */
  override def pushOffset(offset: Int): Boolean = {
    val (tombs, data0) = manifestSplit()
    if (tombs.nonEmpty || pushed.nonEmpty || offset <= 0 || limitIsTopN)
      return false
    val data = limitKept.map(_._1).getOrElse(data0)
    if (data.exists(_.rows.isEmpty)) return false
    var rem = offset.toLong
    val kept = data.dropWhile { e =>
      val drop = e.rows.get <= rem
      if (drop) rem -= e.rows.get
      drop
    }
    offsetSkip = Some((kept, rem, s"PushedOffset: OFFSET $offset"))
    true
  }

  private def manifestSplit(): (Seq[FileEntry], Seq[FileEntry]) = {
    val (t, d) = viewed.partition(_.kind == "t")
    (t, d.filter(_.kind == "d"))
  }

  override def build(): Scan = {
    aggAnswer.foreach { case (outSchema, values, desc) =>
      val total = viewed.count(_.kind == "d")
      return new GraftAggScan(version, outSchema, values, desc, total)
    }
    val (tombs, data) = viewed.partition(_.kind == "t")
    val base = offsetSkip.map(_._1)
      .orElse(limitKept.map(_._1)).getOrElse(data)
    val kept1 = pushed.foldLeft(base)((es, f) =>
      GraftPruning.prune(spark, root, fullSchema, es, f))
    // hash-bucket pruning: equality/IN on a declared bucket-layout
    // key keeps only the literal's own cell(s) — stats ranges rarely
    // help on a hash-scattered key, the cell id is exact
    val kept0 = SnapshotTable.bucketLayoutOf(props) match {
      case Some(layout) => pushed.foldLeft(kept1)((es, f) =>
        GraftPruning.pruneBucket(fullSchema, layout, es, f))
      case None => kept1
    }
    // consumed filters returned NO residual, so the scan itself must
    // be exact: the generic stats pruning above is only best-effort
    // (boundary files survive a strict '>'); re-decide each file by
    // its constant, which is total on a value-pure table
    val kept = consumedKeep(kept0)
    // the kill key as the schema spells it (SQL resolution is
    // case-insensitive; the files are read that way too)
    val tombKey = tombs.headOption.map { t =>
      val k = t.statsKey.getOrElse(throw new IllegalStateException(
        s"tombstone entry without a key column at $root"))
      fullSchema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalStateException(
          s"tombstone key '$k' missing from table schema"))
    }
    val descs = (limitKept.map(_._2) ++ offsetSkip.map(_._3)).toSeq
    new GraftScan(spark, root, version, fullSchema, kept, data.size,
      required, pushed, tombs, tombKey.map(_.name),
      tombKey.map(_.dataType),
      if (descs.isEmpty) None else Some(descs.mkString(" ")),
      offsetSkip.collect { case (ks, rem, _) if rem > 0 && ks.nonEmpty =>
        (ks.head.path, rem) }, onPlan, streamStart, streamBranch,
      streamLimits)
  }
}

/** Driver-side translation of pushed filters into manifest pruning —
  * the same stats/bloom machinery [[SnapshotTable.readWhere]] and
  * [[SnapshotTable.readKeys]] use, reached through Catalyst this
  * time. Every step only ever SKIPS provably non-matching files;
  * unknown literal shapes prune nothing and stay correct. */
private[connector] object GraftPruning {

  private def str(v: Any): Option[String] = v match {
    case null => None
    // decimals render PLAIN (never scientific) to match the
    // cast-to-string form the recorded stats use
    case b: java.math.BigDecimal => Some(b.toPlainString)
    case b: scala.math.BigDecimal => Some(b.bigDecimal.toPlainString)
    case n: java.lang.Number => Some(n.toString)
    case s: String => Some(s)
    case ts: java.sql.Timestamp => Some(ts.toString)
    case d: java.sql.Date => Some(d.toString)
    case _ => None
  }

  /** Endpoints for an IN list, chosen under the column type's own stat
    * ordering — the one pruning compares bounds in. A LEXICAL min/max
    * over numeric strings would invert ("10" < "9"), and a `double`
    * ordering collapses longs past 2^53 (and wide decimals) onto one
    * endpoint; either prunes files that hold matches. */
  private def minMax(vs: Seq[Any], dt: Option[DataType])
  : (Option[String], Option[String]) = {
    val clean = vs.filter(_ != null)
    val cmp = dt.flatMap(SnapshotTable.statOrdering)
    if (clean.isEmpty || cmp.isEmpty ||
      !(clean.forall(_.isInstanceOf[java.lang.Number]) ||
        clean.forall(_.isInstanceOf[String]))) return (None, None)
    // a literal the column ordering cannot parse prunes nothing
    scala.util.Try(clean.flatMap(str).sortWith(cmp.get(_, _) < 0))
      .toOption.fold((Option.empty[String], Option.empty[String]))(s =>
        (s.headOption, s.lastOption))
  }

  /** A RENAMED column's per-file stats live under the file's PHYSICAL
    * epoch name: group the entries by that name and prune each group
    * under it. Rename-free columns take the single-group fast path.
    * This is also what makes pruning SAFE under name reuse across
    * renames: an old file whose physical `x` holds a DIFFERENT
    * logical column is only ever matched under the predicate column's
    * own epoch name for that file, never bare `x`. */
  private def perPhysical(schema: StructType, c: String,
      entries: Seq[FileEntry])(
      pruneGroup: (String, Seq[FileEntry]) => Seq[FileEntry])
  : Seq[FileEntry] =
    schema.fields.find(_.name.equalsIgnoreCase(c)) match {
      case Some(field)
        if SnapshotTable.renameEpochs(field).nonEmpty =>
        entries.groupBy(e => SnapshotTable.physicalName(field, e.seq))
          .toSeq.flatMap { case (p, g) => pruneGroup(p, g) }
      case _ => pruneGroup(c, entries)
    }

  /** `schema` is the schema the scan reads under, field metadata
    * included: it types the literals and carries the rename epochs.
    * Equality and IN also probe the blooms. */
  def prune(spark: SparkSession, root: String, schema: StructType,
      entries: Seq[FileEntry], f: Filter): Seq[FileEntry] = {
    def dt(c: String) =
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    val (c, lo, hi, probes) = f match {
      case EqualTo(c, v) => (c, str(v), str(v), Some(Seq(v)))
      case In(c, vs) =>
        val (lo, hi) = minMax(vs.toSeq, dt(c))
        (c, lo, hi, Some(vs.toSeq))
      case GreaterThan(c, v) => (c, str(v), None, None)
      case GreaterThanOrEqual(c, v) => (c, str(v), None, None)
      case LessThan(c, v) => (c, None, str(v), None)
      case LessThanOrEqual(c, v) => (c, None, str(v), None)
      case _ => return entries
    }
    perPhysical(schema, c, entries) { (p, es) =>
      val probed = (probes, dt(c)) match {
        case (Some(vs), Some(t)) => SnapshotTable.bloomPrune(es, vs, t, p)
        case _ => es
      }
      SnapshotTable.pruneEntriesOf(spark, root, probed, Some(schema), p,
        lo, hi)
    }
  }

  /** Hash-bucket pruning: the writer routed every row of a layout key
    * value v into exactly one per-key bucket — `pmod(murmur3(v), n)`,
    * the same Murmur3 (seed 42) Catalyst's `hash()` computes — and the
    * manifest records each file's grid cell. An EqualTo/In literal on
    * a layout key therefore names the ONLY cells its matches can live
    * in; hashing the literal at plan time keeps exactly those cells'
    * files. A point lookup on a 4096-bucket table reads 1/4096 of the
    * files with no bloom and no min/max selectivity required — at
    * 100 TB that is the needle-in-haystack access path.
    *
    * Sound because the layout is IMMUTABLE once declared: rename,
    * drop and widen of a bucket key are refused, `graft.bucket.*` is
    * not SQL-editable, and re-declaring via `commitBucketedOn`
    * REPLACES the whole file set — so every recorded cell was
    * computed under the counts the properties hold now. Files with
    * NO recorded cell (a plain `append`, an unbucketed maintenance
    * rewrite) are always kept; null or unconvertible literals
    * decline the whole filter. */
  private[connector] def pruneBucket(schema: StructType,
      layout: Seq[(String, Int)], entries: Seq[FileEntry], f: Filter)
  : Seq[FileEntry] = {
    val (c, vs) = f match {
      case EqualTo(c, v) => (c, Seq(v))
      case In(c, vs) => (c, vs.toSeq)
      case _ => return entries
    }
    val ki = layout.indexWhere(_._1.equalsIgnoreCase(c))
    if (ki < 0 || vs.isEmpty || vs.contains(null)) return entries
    val dt = schema.fields.find(_.name.equalsIgnoreCase(c))
      .map(_.dataType).getOrElse(return entries)
    dt match {
      // SQL equality and murmur3-of-bits disagree on -0.0 == 0.0 (and
      // NaN payloads): a 0.0 literal would prune away the bucket the
      // writer hashed -0.0 rows into. Fractional bucket keys decline.
      case FloatType | DoubleType => return entries
      case _ => ()
    }
    val n = layout(ki)._2
    val counts = layout.map(_._2)
    val hs = vs.map(v => scala.util.Try {
      val lit = org.apache.spark.sql.catalyst.expressions
        .Literal.create(v, dt)
      val h = org.apache.spark.sql.catalyst.expressions
        .Murmur3Hash(Seq(lit), 42).eval(null).asInstanceOf[Int]
      ((h % n) + n) % n
    }.toOption)
    if (hs.exists(_.isEmpty)) return entries
    val target = hs.flatten.toSet
    entries.filter { e =>
      e.statsFor("__bucket").flatMap(s =>
        scala.util.Try(s._1.toInt).toOption) match {
        case Some(cell) =>
          SnapshotTable.gridDecompose(cell, counts)
            .lift(ki).exists(target.contains)
        case None => true
      }
    }
  }
}

/** A stream position: everything up to `version`, inclusive — except
  * that with `index >= 0` only the FIRST `index` files ADDED by
  * `version` are consumed (a rate-limited batch stopped mid-commit).
  * `index < 0` means the version is fully consumed. JSON keeps the
  * plain-number form for full offsets, so every pre-admission-control
  * checkpoint parses unchanged, and unlimited streams write exactly
  * the offsets they always did. A partial offset's file index counts
  * positions within the version's add list IN MANIFEST ORDER — stable
  * across later commits because manifests are append-ordered, upserts
  * keep position, and non-accretive rewrites refuse the stream. */
private[connector] case class GraftOffset(version: Long,
    index: Int = -1)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    if (index < 0) version.toString else s"$version#$index"
}

private[connector] object GraftOffset {
  def parse(json: String): GraftOffset = {
    val s = json.trim
    val h = s.indexOf('#')
    if (h < 0) GraftOffset(s.toLong)
    else GraftOffset(s.substring(0, h).toLong,
      s.substring(h + 1).toInt)
  }
}

/** Per-trigger admission caps, straight from the read options —
  * `maxFilesPerTrigger`, `maxBytesPerTrigger` (accepts `k`/`m`/`g`
  * suffixes), `maxRowsPerTrigger`. All three are served ENTIRELY from
  * the manifest (per-file `bytes` and `rows` are commit-stamped), so
  * sizing a micro-batch costs zero data IO — the point at 100 TB,
  * where an unthrottled first batch over a large table would be the
  * whole table in one trigger. The inverse knob, `minRowsPerTrigger`
  * (+ `maxTriggerDelay`, default 15m — Kafka's minOffsetsPerTrigger
  * shape), COALESCES: a trickle of small commits holds until enough
  * rows accumulate or the delay lapses, so a high-commit-rate table
  * doesn't cost one downstream micro-batch per tiny commit. */
private[connector] case class StreamLimits(maxFiles: Option[Int],
    maxBytes: Option[Long], maxRows: Option[Long],
    minRows: Option[Long] = None, maxDelayMs: Option[Long] = None) {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  def toReadLimit: ReadLimit = {
    val ls: Seq[ReadLimit] =
      maxFiles.map(ReadLimit.maxFiles).toSeq ++
        maxBytes.map(ReadLimit.maxBytes) ++
        maxRows.map(ReadLimit.maxRows) ++
        minRows.map(ReadLimit.minRows(_,
          maxDelayMs.getOrElse(StreamLimits.DefaultDelayMs)))
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }
}

private[connector] object StreamLimits {
  val none: StreamLimits = StreamLimits(None, None, None)
  val DefaultDelayMs: Long = 15L * 60 * 1000

  private def sizeBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) =
      if (t.endsWith("k")) (t.dropRight(1), 1L << 10)
      else if (t.endsWith("m")) (t.dropRight(1), 1L << 20)
      else if (t.endsWith("g")) (t.dropRight(1), 1L << 30)
      else (t, 1L)
    num.trim.toLong * mult
  }

  /** Duration in ms: bare number = ms; `s`/`m`/`h` suffixes. */
  private def durationMs(s: String): Long = {
    val t = s.trim.toLowerCase
    if (t.endsWith("ms")) t.dropRight(2).trim.toLong
    else if (t.endsWith("s")) t.dropRight(1).trim.toLong * 1000
    else if (t.endsWith("m")) t.dropRight(1).trim.toLong * 60000
    else if (t.endsWith("h")) t.dropRight(1).trim.toLong * 3600000
    else t.toLong
  }

  def from(options: CaseInsensitiveStringMap): StreamLimits = {
    def pos(name: String, v: Long): Long = {
      require(v > 0, s"$name must be positive, got $v"); v
    }
    val delay = Option(options.get("maxTriggerDelay")).map(durationMs)
    delay.foreach(d => require(d >= 0,
      s"maxTriggerDelay must be >= 0, got $d"))
    require(delay.isEmpty ||
      options.containsKey("minRowsPerTrigger"),
      "maxTriggerDelay only applies with minRowsPerTrigger")
    StreamLimits(
      Option(options.get("maxFilesPerTrigger"))
        .map(s => pos("maxFilesPerTrigger", s.trim.toLong).toInt),
      Option(options.get("maxBytesPerTrigger"))
        .map(s => pos("maxBytesPerTrigger", sizeBytes(s))),
      Option(options.get("maxRowsPerTrigger"))
        .map(s => pos("maxRowsPerTrigger", s.trim.toLong)),
      Option(options.get("minRowsPerTrigger"))
        .map(s => pos("minRowsPerTrigger", s.trim.toLong)),
      delay)
  }
}

/** Micro-batch streaming over a [[SnapshotTable]]: offsets are
  * committed versions; the batch for `(start, end]` reads exactly the
  * data files `end`'s manifest holds that `start`'s did not — the
  * O(delta) accretive diff, no data re-read, the same rule the
  * incremental MV consumes. The FIRST batch (start = 0) is the whole
  * table as of the stream's start — "serve the snapshot, then tail
  * the log".
  *
  * Accretive ranges only, stated: a range in which files DISAPPEARED
  * (compaction, replace, COW merge) or tombstones appeared (MOR
  * deletes) is not expressible as an append stream, and the stream
  * fails with a pointer instead of silently re-emitting rewritten
  * rows — Delta draws the same line (`ignoreChanges`). */
private[connector] class GraftMicroBatchStream(root: String,
    required: StructType, startingVersion: Option[String] = None,
    branch: Option[String] = None,
    limits: StreamLimits = StreamLimits.none)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset,
    ReadLimit, ReadMaxFiles, ReadMaxBytes, ReadMaxRows, ReadMinRows,
    CompositeReadLimit}

  private def spark = SparkSession.active

  /** The stream's moving tip: main's current version, or — with
    * `option("branch", name)` — that branch's head, so a stream can
    * tail a branch's commits while main moves independently (both
    * offsets are global version numbers; manifests are compared
    * pairwise, so interleaved foreign commits never surface). */
  protected def tipVersion(): Long = branch match {
    case None => SnapshotTable.currentVersion(spark, root)
    case Some(b) => SnapshotTable.branchHead(spark, root, b)
  }

  /** Initial defaults declared by the batch-end schema, restricted to
    * streamed columns — streamed rows from files that predate an
    * `ADD COLUMNS ... DEFAULT` must surface the declared literal,
    * exactly like every batch read of the same rows. */
  protected def defaultFillsAt(vE: Long)
  : Seq[SnapshotTable.InitFill] =
    SnapshotTable.initFills(
      GraftSnapshotSource.schemaOf(spark, root, vE))
      .filter(f => required.fieldNames.exists(_.equalsIgnoreCase(f.name)))

  /** The schema RENAME ALIASES resolve against for a batch ending at
    * `vE`: NOT schemaOf(vE). The stream's required names were derived
    * from the table's schema at RUN START; a rate-limited replay of
    * history puts vE BEFORE a rename those names postdate, and the
    * vE schema carries neither the epochs nor any field matching the
    * names — the lookup would miss and the renamed column would read
    * silently NULL out of pre-rename files. Epochs only accumulate,
    * so max(vE, run-start tip) always carries every epoch either the
    * batch or the stream's names need. (Initial-default fills stay at
    * vE — a replayed batch must surface exactly the defaults its
    * version declared.) */
  protected lazy val runStartVersion: Long = tipVersion()
  protected def aliasSchemaAt(vE: Long): StructType =
    GraftSnapshotSource.schemaOf(spark, root,
      math.max(vE, runStartVersion))

  /** Where a FRESH checkpoint begins (Delta's `startingVersion`):
    * absent = offset 0, replay the whole commit history; `"latest"` =
    * the current version, only commits made after the stream starts;
    * `N` = offset N-1, so version N's own changes are the first
    * micro-batch. A resumed checkpoint never consults this — its
    * recorded offset wins, as it must. */
  override def initialOffset(): Offset = GraftOffset(startingVersion
    match {
      case None => 0L
      case Some(s) if s.equalsIgnoreCase("latest") =>
        tipVersion()
      case Some(s) =>
        val n = try s.trim.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"startingVersion must be 'latest' or a version " +
                s"number, got '$s'")
        }
        require(n >= 1L, s"startingVersion must be >= 1, got $n")
        n - 1L
    })

  override def latestOffset(): Offset = GraftOffset(cappedTip())

  /** Trigger.AvailableNow pins the drain target at prepare time: the
    * stream processes (rate-limited batch by rate-limited batch) up
    * to THIS version, then stops — commits racing in behind the
    * prepare call are the next run's work, per the trigger's
    * contract. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(tipVersion())
  private def cappedTip(): Long =
    availableNowCap.getOrElse(tipVersion())

  override def getDefaultReadLimit: ReadLimit = limits.toReadLimit

  override def reportLatestOffset(): Offset = GraftOffset(tipVersion())

  /** (maxFiles, maxBytes, maxRows, (minRows, maxDelayMs)). */
  private def flattenLimit(l: ReadLimit): (Option[Int], Option[Long],
      Option[Long], Option[(Long, Long)]) = l match {
    case f: ReadMaxFiles => (Some(f.maxFiles), None, None, None)
    case b: ReadMaxBytes => (None, Some(b.maxBytes), None, None)
    case r: ReadMaxRows => (None, None, Some(r.maxRows), None)
    case m: ReadMinRows =>
      (None, None, None, Some((m.minRows, m.maxTriggerDelayMs)))
    case c: CompositeReadLimit =>
      c.getReadLimits.map(flattenLimit).foldLeft(
        (Option.empty[Int], Option.empty[Long], Option.empty[Long],
          Option.empty[(Long, Long)])) {
        case ((f1, b1, r1, m1), (f2, b2, r2, m2)) =>
          (f1.orElse(f2), b1.orElse(b2), r1.orElse(r2), m1.orElse(m2))
      }
    // ReadAllAvailable, anything future: no cap
    case _ => (None, None, None, None)
  }

  /** Every entry the end manifest holds, paired with its position
    * WITHIN its adding version's add list (manifest order) — the
    * coordinate system partial offsets index into. Positions are
    * stable: manifests append new versions' entries in order, stats
    * upserts keep position, and any rewrite that would reshuffle the
    * past refuses the stream as non-accretive. */
  private def withAddPositions(after: Seq[SnapshotTable.FileEntry])
  : Seq[(SnapshotTable.FileEntry, Int)] = {
    val counts = scala.collection.mutable.Map.empty[Long, Int]
    after.map { e =>
      val p = counts.getOrElse(e.seq, 0)
      counts(e.seq) = p + 1
      (e, p)
    }
  }

  /** Rate-limited tip: walk the files versions after `start` added —
    * manifest metadata only, zero data IO — admitting until a cap
    * would be exceeded, stopping mid-version with a `version#index`
    * offset when a single commit is bigger than a trigger. Soft-max:
    * the first pending file is always admitted, so one oversized file
    * advances rather than wedging the stream. Legacy manifests
    * without seq stamps (seq 0 under a committed history) cannot
    * attribute adds to versions and fall back to the unthrottled
    * tip. */
  /** Set once the first gated evaluation happens; reset every time a
    * batch is actually released — `maxTriggerDelay` counts from the
    * last released batch, Kafka's rule. */
  @volatile private var delayClockMs: Long = 0L

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[GraftOffset]
    val tip = cappedTip()
    if (tip <= 0 || (so.version >= tip && so.index < 0)) return so
    val (maxF, maxB, maxR, minR) = flattenLimit(limit)
    if (maxF.isEmpty && maxB.isEmpty && maxR.isEmpty && minR.isEmpty)
      return GraftOffset(tip)
    val after = SnapshotTable.readManifestFull(spark, root, tip)._1
    if (after.exists(_.seq <= 0)) return GraftOffset(tip)
    val withPos = withAddPositions(after)
    val pending = withPos.filter { case (e, p) =>
      e.seq > so.version ||
        (so.index >= 0 && e.seq == so.version && p >= so.index)
    }.sortBy { case (e, p) => (e.seq, p) }
    if (pending.isEmpty) return GraftOffset(tip)
    // Coalescing gate: hold the trigger until minRows accumulate or
    // the delay lapses. A file without a recorded row count counts as
    // satisfying (never wedge on missing metadata); AvailableNow
    // drains ignore the gate — its contract is "process everything
    // pending, now" (Kafka ignores minOffsetsPerTrigger there too).
    minR match {
      case Some((min, delayMs)) if availableNowCap.isEmpty =>
        val now = System.currentTimeMillis()
        if (delayClockMs == 0L) delayClockMs = now
        val known = pending.forall(_._1.rows.isDefined)
        val pendingRows = pending.iterator
          .map(_._1.rows.getOrElse(0L)).sum
        if (known && pendingRows < min &&
          now - delayClockMs < delayMs) return so
        delayClockMs = now
      case _ => ()
    }
    val f = SnapshotTable.fs(spark, root)
    var files = 0; var bytes = 0L; var rows = 0L
    var admitted = List.empty[(SnapshotTable.FileEntry, Int)]
    val it = pending.iterator
    var open = true
    while (open && it.hasNext) {
      val (e, p) = it.next()
      // bytes are commit-stamped; the one legacy fallback is a single
      // status call, bounded per trigger by the cap itself
      val eb = if (maxB.isDefined)
        e.bytes.getOrElse(SnapshotTable.entryBytes(f, root, e))
        else 0L
      val er = e.rows.getOrElse(0L)
      val fits = maxF.forall(files + 1 <= _) &&
        maxB.forall(bytes + eb <= _) &&
        maxR.forall(rows + er <= _)
      if (fits || admitted.isEmpty) {
        admitted ::= ((e, p))
        files += 1; bytes += eb; rows += er
        // a row-capped stream cannot size a row-countless file: admit
        // it alone-ward (close the batch) rather than overshoot
        if (maxR.isDefined && e.rows.isEmpty) open = false
      } else open = false
    }
    if (admitted.size == pending.size) GraftOffset(tip)
    else {
      val (lastE, lastP) = admitted.head
      val totalOfVersion = after.count(_.seq == lastE.seq)
      if (lastP + 1 == totalOfVersion) GraftOffset(lastE.seq)
      else GraftOffset(lastE.seq, lastP + 1)
    }
  }

  /** The file adds in `(start, end]`, in manifest order. Full-version
    * offsets keep the original path-set diff; a partial boundary
    * switches to (version, position) slicing over the SAME add-list
    * coordinates `latestOffset` admitted by. */
  protected def sliceAdds(so: GraftOffset, eo: GraftOffset,
      beforePaths: Set[String], after: Seq[SnapshotTable.FileEntry])
  : Seq[SnapshotTable.FileEntry] =
    if (so.index < 0 && eo.index < 0)
      after.filter(e => !beforePaths.contains(e.path))
    else withAddPositions(after).filter { case (e, p) =>
      val afterStart =
        if (so.index < 0) e.seq > so.version
        else e.seq > so.version ||
          (e.seq == so.version && p >= so.index)
      val beforeEnd = e.seq < eo.version ||
        (e.seq == eo.version && (eo.index < 0 || p < eo.index))
      afterStart && beforeEnd
    }.map(_._1)

  override def deserializeOffset(json: String): Offset =
    GraftOffset.parse(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[GraftOffset]
    val eo = end.asInstanceOf[GraftOffset]
    val vS = so.version; val vE = eo.version
    if (vE < vS || (vE == vS && so.index < 0)) return Array.empty
    val before =
      if (vS == 0L) Seq.empty
      else SnapshotTable.readManifestFull(spark, root, vS)._1
    val after = SnapshotTable.readManifestFull(spark, root, vE)._1
    val beforePaths = before.map(_.path).toSet
    val afterPaths = after.map(_.path).toSet
    val dropped = before.filter(e => !afterPaths.contains(e.path))
    val adds = sliceAdds(so, eo, beforePaths, after)
    val addedTombs = adds.filter(_.kind == "t")
    require(dropped.isEmpty && addedTombs.isEmpty,
      s"snapshot stream at $root: versions ($vS, $vE] are not " +
        "accretive (files rewritten by compaction/merge/replace, or " +
        "merge-on-read tombstones added) — an append stream cannot " +
        "express row removal; restart the stream from the current " +
        "version or consume the table with SnapshotTable.diff")
    val defaults = defaultFillsAt(vE)
    val schemaAt = aliasSchemaAt(vE)
    val renamed = schemaAt.fields
      .exists(SnapshotTable.renameEpochs(_).nonEmpty)
    // the stream's required names were captured at START and may be
    // STALE after a mid-stream rename — resolve through the epochs,
    // so files on either side of the rename keep serving values
    // under the names the stream began with
    adds.filter(_.kind == "d")
      .map(e => GraftInputPartition(new Path(root, e.path).toString,
        e.seq, Array.empty, null, null,
        fills = defaults.filter(_.addedAt > e.seq)
          .map(f => (f.name, f.rendered)).toArray,
        aliases = if (!renamed) Array.empty
          else SnapshotTable.aliasesForNames(schemaAt,
            required.fieldNames.toSeq, e.seq).toArray)
        : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required.json, Array.empty,
      SerializableHadoopConf.broadcast(SparkSession.active))
}

/** The CHANGELOG streaming scan (`changes=true`): each micro-batch
  * delivers row-level CHANGE EVENTS, not table rows — the streaming
  * twin of the catalog's `t.changes` / `t.delete_keys` batch tables.
  * Batch reads are refused with the pointer (a changelog is a stream
  * by nature; the batch surface already exists). */
private[connector] class GraftChangesScan(root: String,
    cdcSchema: StructType, streamStart: Option[String],
    streamBranch: Option[String] = None,
    preImages: Boolean = false,
    limits: StreamLimits = StreamLimits.none)
  extends Scan {
  override def readSchema(): StructType = cdcSchema
  override def description(): String = s"graft-snapshot-changes($root)"
  override def toBatch: Batch =
    throw new UnsupportedOperationException(
      "changes=true is a STREAMING read (spark.readStream); for a " +
        "batch change set use the catalog's t.changes / " +
        "t.delete_keys tables or SnapshotTable.diff(from, to)")
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftChangesMicroBatchStream(root, cdcSchema, streamStart,
      streamBranch, preImages, limits)
}

/** CHANGELOG micro-batch stream: version range (start, end] becomes
  * change events —
  *
  *  - every data file a version ADDED → its rows as
  *    `_change_type = 'insert'` (a merge-on-read update's replacement
  *    rows included),
  *  - every tombstone a version added → its KEYS as
  *    `_change_type = 'delete'` rows (key column set, data columns
  *    NULL — tombstones record keys, not full pre-images),
  *
  * each stamped `_commit_version`. A MOR update therefore streams as
  * delete(key) + insert(new row) under one commit version — apply
  * deletes before inserts of the same version. Unlike the APPEND
  * stream, merge-on-read history is fully expressible; what still
  * refuses loudly is a REWRITE (compaction / COW merge / replace):
  * "file removed" carries no row-level meaning, exactly the line
  * `t.changes` draws. The per-event columns ride the reader's
  * constant-fill channel (the initial-default machinery), so no data
  * is copied or widened on disk. */
private[connector] class GraftChangesMicroBatchStream(root: String,
    cdcSchema: StructType, startingVersion: Option[String] = None,
    branch: Option[String] = None, preImages: Boolean = false,
    limits: StreamLimits = StreamLimits.none)
  extends GraftMicroBatchStream(root, cdcSchema, startingVersion,
    branch, limits) {

  private def session = SparkSession.active

  /** Changelog batches carry WHOLE source versions, always. The base
    * stream's admission control may stop mid-version (`version#index`)
    * — correct for an append stream, where a version is just files —
    * but a CHANGE batch that splits a version hands a consumer half a
    * commit: `MaterializedView.cdcFeedRetract`'s exactly-once marker
    * is version-granular, so the split version's tail would be
    * silently dropped on replay (the r14 verdict's latent footgun).
    * So a cap that lands mid-version rounds UP to the version
    * boundary — the same soft-max rule the base stream applies to one
    * oversized file: the first pending version is always admitted
    * whole, caps bound how many FURTHER versions a trigger drains,
    * and a partial END offset is impossible by construction. (A
    * partial START offset left by a pre-guard checkpoint still
    * resumes exactly: the very next batch completes that version.) */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
  : org.apache.spark.sql.connector.read.streaming.Offset = {
    val off = super.latestOffset(start, limit)
    val go = off.asInstanceOf[GraftOffset]
    if (go.index < 0) go else GraftOffset(go.version)
  }

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset)
  : Array[InputPartition] = {
    val so = start.asInstanceOf[GraftOffset]
    val eo = end.asInstanceOf[GraftOffset]
    val vS = so.version; val vE = eo.version
    if (vE < vS || (vE == vS && so.index < 0)) return Array.empty
    val before =
      if (vS == 0L) Seq.empty
      else SnapshotTable.readManifestFull(session, root, vS)._1
    val after = SnapshotTable.readManifestFull(session, root, vE)._1
    val beforePaths = before.map(_.path).toSet
    val afterPaths = after.map(_.path).toSet
    val dropped = before.filter(e => !afterPaths.contains(e.path))
    require(dropped.isEmpty,
      s"changelog stream at $root: versions ($vS, $vE] rewrote " +
        s"${dropped.size} file(s) (compaction / copy-on-write merge " +
        "/ replace) — a file-delta changelog cannot attach row-level " +
        "meaning to a rewrite; restart from the current version or " +
        "use SnapshotTable.diff for the exact row diff")
    // initial defaults apply to streamed CHANGE rows exactly as to
    // batch reads: data files predating an ADD COLUMNS ... DEFAULT
    // fill the declared literal. (Key-only delete events keep their
    // data columns NULL — they are intentionally not row images.)
    val defaults = defaultFillsAt(vE)
    val schemaAt = aliasSchemaAt(vE)
    val renamed = schemaAt.fields
      .exists(SnapshotTable.renameEpochs(_).nonEmpty)
    // tombstone events translate too: a tombstone committed after a
    // rename stores its KEYS under the new physical name — a stream
    // whose cdcSchema predates the rename must still surface them
    // under the name it began with, not emit delete events with
    // NULL keys
    def aliasOf(e: SnapshotTable.FileEntry)
    : Array[(String, String)] =
      if (!renamed) Array.empty
      else SnapshotTable.aliasesForNames(schemaAt,
        cdcSchema.fieldNames.toSeq, e.seq).toArray
    def defaultFills(e: SnapshotTable.FileEntry)
    : Array[(String, String)] =
      if (e.kind != "d") Array.empty
      else defaults.filter(_.addedAt > e.seq)
        .map(f => (f.name, f.rendered)).toArray
    def event(e: SnapshotTable.FileEntry,
        changeType: String): InputPartition =
      GraftInputPartition(new Path(root, e.path).toString, e.seq,
        Array.empty, null, null,
        fills = Array(
          (GraftSnapshotSource.ChangeTypeCol, changeType),
          (GraftSnapshotSource.CommitVersionCol, e.seq.toString)) ++
          defaultFills(e),
        aliases = aliasOf(e))
    val adds = sliceAdds(so, eo, beforePaths, after)
    if (!preImages)
      adds.map { e =>
        if (e.kind == "t") event(e, "delete") else event(e, "insert")
      }.toArray
    else {
      // preImages=true: delete events carry the FULL deleted rows.
      // For each new tombstone t, read the PRE-t data files whose key
      // range can intersect it (stats-pruned, O(affected files)) in
      // emit-only-killed mode: `tombs` = tombstones BETWEEN the file
      // and t (suppressing rows already dead before t — a key deleted
      // twice across the range pre-images once per delete, exactly),
      // `preImageTombs` = t itself.
      val inserts = adds.filter(_.kind == "d")
        .map(event(_, "insert"): InputPartition)
      val allTombs = after.filter(_.kind == "t")
      val deletes = adds.filter(_.kind == "t").flatMap { t =>
        // the tombstone records its key under the PHYSICAL name
        // current at its commit; a stream that began before a
        // key-column rename addresses the same column by its
        // run-start name. Resolve through the rename epochs: first
        // the field whose physical name at t.seq matches, then the
        // name THIS stream's cdcSchema knows it by.
        val physKey = t.statsKey.getOrElse(
          throw new IllegalStateException(
            s"tombstone ${t.path} at $root carries no key column"))
        val keyField = schemaAt.fields.find(fd =>
          SnapshotTable.physicalName(fd, t.seq)
            .equalsIgnoreCase(physKey) ||
          fd.name.equalsIgnoreCase(physKey))
        val keyName = keyField.flatMap { fd =>
          cdcSchema.fieldNames.find(n => fd.name.equalsIgnoreCase(n) ||
            SnapshotTable.renameEpochs(fd)
              .exists(_.name.equalsIgnoreCase(n)))
        }.getOrElse(throw new IllegalStateException(
          s"tombstone key '$physKey' is not a column of $root"))
        val keyType = cdcSchema.fields
          .find(_.name.equalsIgnoreCase(keyName)).get.dataType
        val cmp = SnapshotTable.statOrdering(keyType)
        // stats intersection runs in each file's OWN coordinate
        // system: the tombstone's range is recorded under physKey,
        // a pre-rename data file's under ITS epoch name at e.seq
        def physAt(seq: Long): String = keyField
          .map(SnapshotTable.physicalName(_, seq)).getOrElse(physKey)
        def intersects(e: SnapshotTable.FileEntry): Boolean =
          (t.statsFor(physKey), e.statsFor(physAt(e.seq)), cmp) match {
            case (Some((tl, th)), Some((el, eh)), Some(c)) =>
              c(th, el) >= 0 && c(tl, eh) <= 0
            case _ => true // no stats: conservatively read
          }
        after.filter(e => e.kind == "d" && e.seq < t.seq &&
          intersects(e)).map { e =>
          val between = allTombs.filter(x =>
            x.seq > e.seq && x.seq < t.seq).map(x =>
            TombRef(new Path(root, x.path).toString, x.seq)).toArray
          GraftInputPartition(new Path(root, e.path).toString, e.seq,
            between, keyName, keyType.json,
            fills = Array(
              (GraftSnapshotSource.ChangeTypeCol, "delete"),
              (GraftSnapshotSource.CommitVersionCol,
                t.seq.toString)) ++ defaultFills(e),
            preImageTombs = Array(
              TombRef(new Path(root, t.path).toString, t.seq)),
            aliases = aliasOf(e),
            tombKeyName = if (physKey.equalsIgnoreCase(keyName)) null
              else physKey)
            : InputPartition
        }
      }
      (inserts ++ deletes).toArray
    }
  }
}

/** A merge-on-read tombstone file this partition must apply: only
  * tombstones whose seq EXCEEDS the data file's (older rows die) and
  * whose recorded key range can intersect the file's survive the
  * driver-side pre-filter. */
private[connector] case class TombRef(absolutePath: String, seq: Long)

/** All of one grid cell's files as ONE input partition, keyed by the
  * per-key bucket tuple — the unit of a storage-partitioned join:
  * Spark matches partitions of two scans by [[partitionKey]] (one
  * value per reported transform) instead of shuffling either side. */
private[connector] case class GraftBucketedPartition(
    parts: Array[GraftInputPartition], key: Seq[Int])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(key.map(b => b: Any).toArray)
}

/** All of one identity-partition VALUE TUPLE's files as ONE input
  * partition — the storage-partitioned unit of a table laid out by
  * `PARTITIONED BY (a[, b, ...])`. Each value travels as its manifest
  * stats string plus the column type and is re-typed here, so the key
  * Spark compares is the actual column value tuple (Iceberg's
  * identity transform shape, one field per declared key). */
private[connector] case class GraftValuePartition(
    parts: Array[GraftInputPartition], values: Seq[String],
    typeJsons: Seq[String])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = {
    val vs = values.zip(typeJsons).map { case (value, tj) =>
      (DataType.fromJson(tj) match {
        case IntegerType => value.toInt
        case LongType => value.toLong
        case ShortType => value.toShort
        case ByteType => value.toByte
        case StringType => UTF8String.fromString(value)
        case DateType =>
          java.time.LocalDate.parse(value).toEpochDay.toInt
        case other => throw new IllegalStateException(
          s"unexpected identity-partition type $other")
      }): Any
    }
    new GenericInternalRow(vs.toArray)
  }
}

/** Several small files of a scan without a storage layout as ONE
  * input partition, read one after another. */
private[connector] case class GraftFilesPartition(
    parts: Array[GraftInputPartition]) extends InputPartition

/** One data file's read — an input partition of its own, or one of
  * the files a [[GraftFilesPartition]] or a storage-layout partition
  * chains. `tombs` is empty for compacted tables;
  * `keyName`/`keyTypeJson` are null then. */
private[connector] case class GraftInputPartition(absolutePath: String,
    seq: Long, tombs: Array[TombRef], keyName: String,
    keyTypeJson: String, skipRows: Long = 0L,
    // constant fills for THIS file (column -> rendered literal):
    // initial defaults of columns added after the file was written
    // (the reader materializes the constant instead of NULL, typed
    // via the read schema), the `_file` path, and the changelog's
    // per-event columns
    fills: Array[(String, String)] = Array.empty,
    // PRE-IMAGE mode (changelog deletes): emit ONLY rows whose key is
    // in THESE tombstones' key set — after the normal `tombs` filter
    // above suppressed rows already dead before them — instead of the
    // live rows. The kill machinery inverted.
    preImageTombs: Array[TombRef] = Array.empty,
    // (logical -> physical) column names for THIS file: a RENAMED
    // column is stored under its old name in files that predate the
    // rename; readers project the physical name and emit the logical
    // one. Empty for rename-free tables and post-rename files.
    aliases: Array[(String, String)] = Array.empty,
    // the PHYSICAL name the tombstone FILES store the key under, when
    // it differs from `keyName`: a changelog stream that began before
    // a key-column rename addresses the key by its run-start name
    // (`keyName`, what the output schema and the data file's alias
    // map resolve), but tombstones committed after the rename wrote
    // their key column under the new name — kill-set loads must read
    // THAT column. null = same as keyName (the common case).
    tombKeyName: String = null)
  extends InputPartition

/** The scan a COMPLETELY pushed aggregate plans to: one partition,
  * one row, values computed at PLANNING time from the manifest (the
  * partition carries them as strings + the output schema json, both
  * trivially serializable). No data file is opened — `SELECT
  * count(*) FROM snapshot` is a metadata read, like Iceberg's
  * manifest-count answer. */
private[connector] case class GraftAggPartition(schemaJson: String,
    rows: Array[Array[String]]) extends InputPartition

private[connector] class GraftAggScan(version: Long, out: StructType,
    rows: Array[Array[String]], desc: String, totalFiles: Int)
  extends Scan with Batch {

  override def readSchema(): StructType = out

  override def description(): String =
    s"graft-snapshot v$version PushedAggregates: [$desc] " +
      s"files=0/$totalFiles (manifest-only)"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(out.json, rows))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory
}

private[connector] class GraftAggReaderFactory
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftAggPartition]
    val schema = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
    new PartitionReader[InternalRow] {
      private var at = -1
      override def next(): Boolean = { at += 1; at < p.rows.length }
      override def get(): InternalRow = {
        val values = p.rows(at)
        val row = new GenericInternalRow(schema.length)
        var i = 0
        while (i < schema.length) {
          val s = values(i)
          row.update(i,
            if (s == null) null
            else schema.fields(i).dataType match {
              case LongType => s.toLong
              case IntegerType => s.toInt
              case ShortType => s.toShort
              case ByteType => s.toByte
              case FloatType => s.toFloat
              case DoubleType => s.toDouble
              case StringType => UTF8String.fromString(s)
              case DateType =>
                java.time.LocalDate.parse(s).toEpochDay.toInt
              // catalyst's internal timestamp IS epoch micros — the
              // `__tsu:` slots answer in the same coordinate
              case TimestampType => s.toLong
              case d: DecimalType => org.apache.spark.sql.types
                .Decimal(new java.math.BigDecimal(s), d.precision,
                  d.scale)
              case other => throw new IllegalStateException(
                s"unexpected pushed-aggregate type $other")
            })
          i += 1
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}

private[connector] object GraftScan {
  /** The single value file `e` provably holds for column `name`, or
    * None when the file is not value-pure on it. Two evidence paths:
    * the PRIMARY stats slot (statsKey: lo == hi plus the slot's own
    * null count), or — for the tail keys of a composite identity
    * layout — any recorded [lo, hi] range (statsKey2 / extraStats)
    * with a zero per-column null count. Both are writer-recorded
    * facts, so purity never rests on the layout DECLARATION alone. */
  def pureValueOf(e: graft.sources.SnapshotTable.FileEntry,
      name: String): Option[String] =
    if (e.statsKey.contains(name)) {
      if (e.lo.isDefined && e.lo == e.hi && e.statsNulls.contains(0L))
        e.lo
      else None
    } else e.statsFor(name) match {
      case Some((l, h)) if l == h && e.colNulls.collectFirst {
        case (n, c) if n.equalsIgnoreCase(name) => c }.contains(0L) =>
        Some(l)
      case _ => None
    }
}

/** `tableSchema` is the schema the scan reads under, field metadata
  * (initial defaults, rename epochs) included; `spark` is the session
  * the read was planned in, for manifests, properties and the readers'
  * Hadoop conf. */
private[graft] class GraftScan(@transient spark: SparkSession,
    root: String, version: Long, tableSchema: StructType,
    keptData: Seq[FileEntry], totalFiles: Int, required: StructType,
    pushed: Array[Filter], tombs: Seq[FileEntry],
    tombKey: Option[String], tombKeyType: Option[DataType],
    limitDesc: Option[String] = None,
    offsetSkipFile: Option[(String, Long)] = None,
    onPlan: Option[Seq[FileEntry] => Unit] = None,
    streamStart: Option[String] = None,
    streamBranch: Option[String] = None,
    streamLimits: StreamLimits = StreamLimits.none)
  extends Scan with Batch
  with SupportsReportStatistics with SupportsRuntimeFiltering
  with SupportsReportPartitioning with SupportsReportOrdering {

  // runtime (join-driven) filters narrow the planned files further;
  // starts at the compile-time pruned set
  @volatile private var runtimeKept: Seq[FileEntry] = keptData

  /** The table's properties (declared layouts, histograms), read once
    * per scan. */
  private lazy val props = SnapshotTable.tableProperties(spark, root)

  /** The table's declared hash-bucket layout, honored only when EVERY
    * kept data file still carries a bucket id (maintenance that
    * rewrote files unbucketed degrades to unknown partitioning — a
    * performance downgrade, never a correctness risk). */
  private lazy val bucketSpec: Option[Seq[(String, Int)]] = {
    // comma-joined lists = composite (grid) layout, one per-column
    // bucket transform per key; judged on the COMPILE-TIME kept set:
    // runtime filtering only ever empties a reported bucket's file
    // list, never the layout
    SnapshotTable.bucketLayoutOf(props).filter(_ =>
      keptData.nonEmpty &&
        keptData.forall(_.statsFor("__bucket").isDefined))
  }

  private def bucketOf(e: FileEntry): Int =
    e.statsFor("__bucket").get._1.toInt

  /** The bucket ids this scan REPORTS — fixed at the compile-time
    * kept set, because `outputPartitioning` is consulted during
    * physical planning while runtime (join-driven) file filtering
    * mutates `runtimeKept` afterwards: the partition COUNT and KEYS
    * must not drift between the report and `planInputPartitions`, so
    * runtime pruning empties a bucket's file list rather than
    * dropping the bucket. */
  private lazy val reportedBuckets: Seq[Int] =
    if (bucketSpec.isDefined)
      keptData.map(bucketOf).distinct.sorted
    else Seq.empty

  /** The table's declared IDENTITY-partition layout (one or MORE
    * keys, declaration order), honored only when every kept data file
    * is value-pure on EVERY key (min == max, zero nulls — the first
    * key from its primary stats slot, tail keys from their extraStats
    * ranges plus recorded null counts). Merge-on-read tombstones do
    * NOT disqualify it: kills only remove rows, never move one across
    * values, so the co-location the report declares still holds. */
  private lazy val identitySpec: Seq[(String, DataType)] = {
    if (bucketSpec.isDefined) Seq.empty
    else {
      val declared = SnapshotTable.partitionKeysOf(props)
      val keys = declared.flatMap(k => tableSchema.fields
          .find(_.name.equalsIgnoreCase(k))
          .map(f => (f.name, f.dataType)))
      if (keys.size == declared.size &&
        keys.nonEmpty && keptData.nonEmpty &&
        keys.forall { case (k, _) =>
          keptData.forall(GraftScan.pureValueOf(_, k).isDefined) })
        keys
      else Seq.empty
    }
  }

  /** The partition value TUPLES this scan REPORTS — fixed at the
    * compile-time kept set for the same stability reason as
    * [[reportedBuckets]]. */
  private lazy val reportedValues: Seq[Seq[String]] =
    if (identitySpec.isEmpty) Seq.empty
    else keptData.map(e => identitySpec.map { case (k, _) =>
      GraftScan.pureValueOf(e, k).get }).distinct

  /** Storage-partitioned joins: with a bucket layout, report
    * `KeyGroupedPartitioning(bucket(N, key))` — two snapshot tables
    * bucketed the same way then join with ZERO exchange on either
    * side (requires spark.sql.sources.v2.bucketing.enabled; the
    * catalog's `bucket` V2 function proves both sides share the
    * layout function). */
  override def outputPartitioning()
  : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketSpec match {
      case Some(layout) =>
        // one SINGLE-column transform per key — Spark's partitioning
        // validator rejects multi-argument transforms, so a composite
        // layout reports a grid of per-key bucket transforms and the
        // partition key is the per-key bucket tuple
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(layout.map { case (k, n) =>
            org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, k): org.apache.spark.sql.connector
              .expressions.Expression
          }.toArray, reportedBuckets.size)
      case None =>
        if (identitySpec.nonEmpty)
          // identity layout: one reported partition per value TUPLE —
          // one single-column identity transform per key (Spark's
          // partitioning validator takes them positionally, like the
          // bucket grid above). Same-partitioned tables join (and
          // aggregate) on the key set with zero exchange.
          new org.apache.spark.sql.connector.read.partitioning
            .KeyGroupedPartitioning(identitySpec.map { case (k, _) =>
              org.apache.spark.sql.connector.expressions.Expressions
                .identity(k): org.apache.spark.sql.connector
                .expressions.Expression
            }.toArray, reportedValues.size)
        else
          new org.apache.spark.sql.connector.read.partitioning
            .UnknownPartitioning(packed.size)
    }

  /** Per-partition SORT ORDER this scan guarantees. On an identity
    * layout every reported partition is constant on every key (that
    * is the value-purity the report rests on), and a constant column
    * satisfies ANY sort order on itself — so the scan declares the
    * projected identity keys ascending. Spark's EnsureRequirements
    * then elides the per-partition SortExec a sort-merge join would
    * otherwise insert on both sides: a co-partitioned identity join
    * runs with zero exchange AND zero sort. Only keys the query
    * projects are reported (Spark resolves these against the scan
    * OUTPUT; an unprojected key would fail resolution), and order is
    * preserved only because each key-grouped partition is exactly
    * one InputPartition — Spark drops the report if it ever groups
    * several. Bucketed layouts report nothing: a bucket's files
    * concatenate in manifest order, so no column order survives. */
  override def outputOrdering()
  : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    identitySpec.collect {
      case (k, _) if required.fieldNames.exists(_.equalsIgnoreCase(k)) =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(
            required.fieldNames.find(_.equalsIgnoreCase(k)).get),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING)
    }.toArray

  override def readSchema(): StructType = required

  /** Absolute paths of the data files this scan plans to read. */
  private[graft] def plannedFiles: Seq[String] =
    runtimeKept.map(e => new Path(root, e.path).toString)

  override def description(): String =
    s"graft-snapshot v$version files=${keptData.length}/$totalFiles " +
      (if (tombs.nonEmpty) s"tombstones=${tombs.size} " else "") +
      s"columns=${required.fieldNames.mkString(",")} " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      limitDesc.fold("")(d => s" $d")

  override def toBatch: Batch = this

  /** The snapshot table as a STREAMING SOURCE: each committed version
    * is an offset, each micro-batch reads exactly the data files the
    * versions in `(start, end]` ADDED — the commit log doubling as
    * the change stream, Delta-style. See [[GraftMicroBatchStream]]
    * for the accretive-range rule. */
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(root, required, streamStart,
      streamBranch, streamLimits)

  /** Can tombstone `t` kill anything in data file `e`? Sequence rule
    * first (only OLDER rows die); then the recorded key ranges, typed
    * via the manifest schema — disjoint ranges mean the tombstone's
    * keys cannot appear in the file. */
  private def applies(t: FileEntry, e: FileEntry): Boolean = {
    if (t.seq <= e.seq) return false
    (tombKey, tombKeyType) match {
      case (Some(k), Some(dt)) =>
        (t.statsFor(k), e.statsFor(k),
          SnapshotTable.statOrdering(dt)) match {
          case (Some((tl, th)), Some((el, eh)), Some(cmp)) =>
            cmp(th, el) >= 0 && cmp(tl, eh) <= 0
          case _ => true // no stats/ordering: conservatively applies
        }
      case _ => true
    }
  }

  /** Initial defaults declared in this version's schema, restricted
    * to projected columns — evaluated once per scan (metadata only). */
  private lazy val scanInitFills: Seq[SnapshotTable.InitFill] =
    SnapshotTable.initFills(tableSchema)
      .filter(f => required.fieldNames.exists(_.equalsIgnoreCase(f.name)))

  private lazy val scanHasRenames: Boolean =
    tableSchema.fields.exists(SnapshotTable.renameEpochs(_).nonEmpty)

  /** `_file` is the metadata column unless the table stores a data
    * column of that name (data columns resolve first). */
  private lazy val fileMetaRequested: Boolean =
    required.fieldNames.contains(GraftFileMetadataColumn.Name) &&
      !tableSchema.fieldNames.contains(GraftFileMetadataColumn.Name)

  private def filePartition(e: FileEntry): GraftInputPartition = {
    val mine = tombs.filter(applies(_, e)).map(t =>
      TombRef(new Path(root, t.path).toString, t.seq)).toArray
    // a runtime filter may prune the skip-designated file — sound:
    // pruning proves none of its rows (skipped region included)
    // could match, so dropping the file subsumes the skip
    val skip = offsetSkipFile.collect {
      case (p, n) if p == e.path => n }.getOrElse(0L)
    val abs = new Path(root, e.path).toString
    // `_file` rides the constant-fill channel: one value per file
    val fileFill =
      if (fileMetaRequested) Array((GraftFileMetadataColumn.Name, abs))
      else Array.empty[(String, String)]
    GraftInputPartition(abs, e.seq,
      mine, tombKey.orNull,
      tombKeyType.map(_.json).orNull, skip,
      scanInitFills.filter(_.addedAt > e.seq)
        .map(f => (f.name, f.rendered)).toArray ++ fileFill,
      aliases = if (!scanHasRenames) Array.empty
        else SnapshotTable.aliasesAt(tableSchema, e.seq).toArray)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // row-level operations record the FINAL planned file set (post
    // compile-time pruning AND runtime group filtering) — the exact
    // groups their copy-on-write commit must replace. Overwrite, not
    // accumulate: a re-plan after runtime filtering supersedes the
    // wider compile-time set.
    onPlan.foreach(_(runtimeKept))
    bucketSpec match {
      case Some(layout) =>
        // one partition per REPORTED grid cell (stable vs the
        // planning-time report even when runtime filtering empties a
        // cell), keyed by the decomposed per-key bucket tuple
        val byBucket = runtimeKept.groupBy(bucketOf)
        val counts = layout.map(_._2)
        reportedBuckets.map { b =>
          GraftBucketedPartition(
            byBucket.getOrElse(b, Seq.empty)
              .map(filePartition).toArray,
            SnapshotTable.gridDecompose(b, counts)): InputPartition
        }.toArray
      case None =>
        if (identitySpec.nonEmpty) {
          // one partition per REPORTED value tuple (stable vs the
          // planning-time report when runtime filtering empties one)
          val typeJsons = identitySpec.map(_._2.json)
          val byVal = runtimeKept.groupBy(e => identitySpec.map {
            case (k, _) => GraftScan.pureValueOf(e, k).get })
          reportedValues.map { vs =>
            GraftValuePartition(
              byVal.getOrElse(vs, Seq.empty)
                .map(filePartition).toArray, vs, typeJsons)
              : InputPartition
          }.toArray
        } else packed.map(g =>
          (if (g.size == 1) filePartition(g.head)
          else GraftFilesPartition(g.map(filePartition).toArray))
            : InputPartition).toArray
    }
  }

  /** The kept files grouped into input partitions the way Spark's file
    * scan packs them (`spark.sql.files.maxPartitionBytes`,
    * `openCostInBytes`, the leaf parallelism), so a read of many small
    * files runs a few tasks rather than one per file. Largest files
    * first, as Spark orders them. */
  private def packed: Seq[Seq[FileEntry]] = {
    val conf = spark.sessionState.conf
    val open = conf.filesOpenCostInBytes
    lazy val f = SnapshotTable.fs(spark, root)
    val sized = runtimeKept.map(e =>
      e -> e.bytes.getOrElse(SnapshotTable.entryBytes(f, root, e)))
      .sortBy(-_._2)
    val parallelism = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(org.apache.spark.sql.internal.SQLConf
        .LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(spark.sparkContext.defaultParallelism))
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(open, sized.map(_._2 + open).sum / parallelism))
    sized.foldLeft((Vector.empty[Vector[FileEntry]], 0L)) {
      case ((gs, size), (e, bytes)) =>
        if (gs.nonEmpty && size + bytes <= maxSplit)
          (gs.init :+ (gs.last :+ e), size + bytes + open)
        else (gs :+ Vector(e), bytes + open)
    }._1
  }

  /** A copy-on-write group read (`onPlan`) rewrites EVERY row of each
    * planned file, so its filters only choose files: skipping row
    * groups would drop rows the rewrite must carry over. */
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required.json,
      if (onPlan.isDefined) Array.empty[Filter] else pushed,
      SerializableHadoopConf.broadcast(spark),
      spark.sessionState.conf.sessionLocalTimeZone)

  /** Size-accurate planning: a v2 scan without statistics defaults to
    * "unknown = huge", which forbids the planner from ever
    * broadcasting a snapshot side — so a 25-row dimension stored as a
    * snapshot would force every join through a shuffle. Bytes are the
    * PRUNED files' manifest-recorded lengths — zero filesystem RPCs
    * on any table written since byte recording landed (falling back
    * to one status call per legacy entry): at 100 TB, a per-file HEAD
    * request per query PLAN is the difference between millisecond and
    * minute planning. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: java.util.OptionalLong = {
      lazy val f = SnapshotTable.fs(spark, root)
      java.util.OptionalLong.of((runtimeKept ++ tombs).map(e =>
        e.bytes.getOrElse(SnapshotTable.entryBytes(f, root, e))).sum)
    }
    override def sizeInBytes(): java.util.OptionalLong = bytes
    // row-accurate when every kept file carries a footer count and no
    // tombstone can remove rows. Under MOR tombstones the data-file
    // sum is still a sound UPPER bound (tombstones only delete), so
    // it is reported rather than withheld: an overestimate errs
    // toward shuffling, never toward a wrong broadcast — withholding
    // it entirely would instead make the planner fall back to raw
    // bytes, and a small serving dimension that takes steady MOR
    // deletes would flap between broadcast and shuffle as tombstones
    // accrue. Unknown only when a footer count is missing.
    override def numRows(): java.util.OptionalLong =
      if (runtimeKept.forall(_.rows.isDefined))
        java.util.OptionalLong.of(runtimeKept.map(_.rows.get).sum)
      else java.util.OptionalLong.empty()
    // per-column stats for the CBO (join reorder / broadcast sizing):
    // NDV from the manifest's per-file HLL sketches merged over the
    // PRUNED file set, null counts and min/max from the recorded
    // per-file stats where the stats column is projected. Metadata
    // only; withheld entirely under tombstones (rows the merge-on-read
    // path deletes would inflate every estimate).
    override def columnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val data = runtimeKept.filter(_.kind == "d")
      if (tombs.nonEmpty || data.isEmpty) return out
      // ONE merging policy: SnapshotTable.statsSummary is the same
      // code `t.stats` serves — NDV unions, null-count rules, and
      // type-aware (statOrdering) min/max selection, so a long min
      // never loses precision through a double round-trip
      val summary = SnapshotTable.statsSummary(data, required)
        .map(s => s._1 -> s).toMap
      // equi-height histograms (analyzeHistograms): table-level and
      // version-stamped — reported only for UNPRUNED scans of exactly
      // that version, so they never describe files a query skipped.
      // A pinned entry view is whole-version only when it keeps every
      // data file of the version's manifest.
      val histOk = runtimeKept.size == totalFiles &&
        props.get("graft.hist.version").contains(version.toString) &&
        totalFiles ==
          SnapshotTable.readManifest(spark, root, version).count(_.kind == "d")
      def histFor(name: String): Option[
        org.apache.spark.sql.connector.read.colstats.Histogram] =
        if (!histOk) None
        else props.collectFirst {
          case (k, v) if k.startsWith("graft.histcol.") &&
            k.stripPrefix("graft.histcol.").equalsIgnoreCase(name) => v
        }.flatMap { enc =>
          scala.util.Try {
            val Array(h, binPart) = enc.split('|')
            val parsed = binPart.split(';').map { t =>
              val Array(loS, hiS, ndvS) = t.split(',')
              val (loV, hiV, ndvV) =
                (loS.toDouble, hiS.toDouble, ndvS.toLong)
              new org.apache.spark.sql.connector.read.colstats
                .HistogramBin {
                override def lo(): Double = loV
                override def hi(): Double = hiV
                override def ndv(): Long = ndvV
              }: org.apache.spark.sql.connector.read.colstats
                .HistogramBin
            }
            new org.apache.spark.sql.connector.read.colstats
              .Histogram {
              override def height(): Double = h.toDouble
              override def bins(): Array[org.apache.spark.sql
                .connector.read.colstats.HistogramBin] = parsed
            }: org.apache.spark.sql.connector.read.colstats.Histogram
          }.toOption
        }
      required.fields.foreach { fd =>
        val (_, distinct, nulls, mnS, mxS, _) = summary(fd.name)
        val hist = histFor(fd.name)
        // catalyst wants TYPED bounds; numeric only (strings stay
        // unreported — collation-safe)
        def parsed(s: String): Option[Any] = fd.dataType match {
          case org.apache.spark.sql.types.IntegerType =>
            s.toIntOption.map(Int.box)
          case org.apache.spark.sql.types.LongType =>
            s.toLongOption.map(Long.box)
          case org.apache.spark.sql.types.DoubleType =>
            s.toDoubleOption.map(Double.box)
          case org.apache.spark.sql.types.FloatType =>
            s.toFloatOption.map(Float.box)
          case _: org.apache.spark.sql.types.DecimalType =>
            scala.util.Try(new java.math.BigDecimal(s)).toOption
          case _ => None
        }
        val mn = mnS.flatMap(parsed)
        val mx = mxS.flatMap(parsed)
        if (distinct.isDefined || nulls.isDefined || mn.isDefined ||
          hist.isDefined) {
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(fd.name),
            new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                distinct.fold(java.util.OptionalLong.empty())(
                  java.util.OptionalLong.of)
              override def nullCount(): java.util.OptionalLong =
                nulls.fold(java.util.OptionalLong.empty())(
                  java.util.OptionalLong.of)
              override def min(): java.util.Optional[Object] =
                mn.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def max(): java.util.Optional[Object] =
                mx.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats
                  .Histogram] =
                hist.fold(java.util.Optional.empty[org.apache.spark
                  .sql.connector.read.colstats.Histogram]())(
                  java.util.Optional.of)
            })
        }
      }
      out
    }
  }

  /** Runtime (join-driven) file pruning: when this scan sits under a
    * join, Spark hands the build side's key set here as IN/EqualTo
    * filters at execution time — the v2 form of dynamic partition
    * pruning, answered at FILE granularity with the same stats/bloom
    * machinery as compile-time pushdown. */
  override def filterAttributes()
  : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val entries = keptData
    val prunable = required.fieldNames.filter(c => entries.exists(e =>
      e.statsFor(c).isDefined ||
        (e.bloomKey.contains(c) && e.bloom.isDefined)))
    prunable.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = {
    val ranged = filters.foldLeft(runtimeKept)((es, f) =>
      GraftPruning.prune(spark, root, tableSchema, es, f))
    // a runtime IN on the bucket key (dynamic pruning from a joined
    // dim) narrows to the named cells — the raw declared layout, not
    // [[bucketSpec]]: pruning keeps cell-less files, so it needs no
    // every-file guarantee
    runtimeKept = SnapshotTable.bucketLayoutOf(props) match {
      case Some(layout) => filters.foldLeft(ranged)((es, f) =>
        GraftPruning.pruneBucket(required, layout, es, f))
      case None => ranged
    }
  }
}

private[connector] class GraftReaderFactory(requiredJson: String,
    pushed: Array[Filter],
    hconf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    sessionTz: String = "UTC")
  extends PartitionReaderFactory {

  // the factory ships only the broadcast HANDLE; the conf itself is
  // deserialized once per executor (shared object in local mode).
  // Readers take their own Configuration COPY since they mutate it
  private def baseConf: Configuration = hconf.value.value

  /** Every partition decodes through [[GraftColumnarReader]]: merge-on-
    * read kills, changelog pre-images and the OFFSET remainder are
    * selections over its batches, `_file` and the changelog's event
    * columns are constant fills. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    true

  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft-snapshot partitions are read columnar only")

  override def createColumnarReader(partition: InputPartition)
  : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case GraftValuePartition(parts, _, _) =>
        // one value = several files: same chained shape as a cell
        createColumnarReader(GraftBucketedPartition(parts, Seq.empty))
      case GraftFilesPartition(parts) =>
        createColumnarReader(GraftBucketedPartition(parts, Seq.empty))
      case GraftBucketedPartition(parts, _) =>
        // one grid cell = several files: chain their batch readers,
        // so SPJ scans keep whole-stage vectorization
        new PartitionReader[org.apache.spark.sql.vectorized
          .ColumnarBatch] {
          private val it = parts.iterator
          private var cur: PartitionReader[
            org.apache.spark.sql.vectorized.ColumnarBatch] = _
          override def next(): Boolean = {
            while (true) {
              if (cur == null) {
                if (!it.hasNext) return false
                cur = createColumnarReader(it.next())
              }
              if (cur.next()) return true
              cur.close(); cur = null
            }
            false
          }
          override def get()
          : org.apache.spark.sql.vectorized.ColumnarBatch = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case _ =>
        val required =
          DataType.fromJson(requiredJson).asInstanceOf[StructType]
        val p = partition.asInstanceOf[GraftInputPartition]
        // pushed filters name LOGICAL columns; this file may store a
        // renamed column under its physical epoch name — translate so
        // row-group pruning keeps working on pre-rename files
        val filePushed =
          if (p.aliases.isEmpty) pushed
          else pushed.map(GraftParquetFilters.renameColumns(_,
            p.aliases.toMap))
        val keyed = p.tombs.nonEmpty || p.preImageTombs.nonEmpty
        // the kill key must be DECODED to select on, even when the
        // query didn't project it — read it as a hidden trailing field
        val keyType =
          if (keyed) DataType.fromJson(p.keyTypeJson) else null
        val (readSchema, killIdx) =
          if (!keyed) (required, -1)
          else required.fieldNames.indexWhere(_ == p.keyName) match {
            case -1 => (StructType(required.fields :+
              StructField(p.keyName, keyType, nullable = true)),
              required.length)
            case i => (required, i)
          }
        val reader = new GraftColumnarReader(p.absolutePath, readSchema,
          sessionTz, baseConf, p.fills, p.aliases, filePushed)
        if (!keyed && p.skipRows == 0) reader
        else {
          def keys(ts: Array[TombRef]) = GraftTombstones.killSet(ts,
            Option(p.tombKeyName).getOrElse(p.keyName), keyType,
            sessionTz, baseConf)
          new GraftColumnarKillReader(reader, required.length, killIdx,
            keyType, if (keyed) keys(p.tombs) else null,
            if (p.preImageTombs.isEmpty) null else keys(p.preImageTombs),
            p.skipRows)
        }
    }
}

/** Pushed `sources.Filter`s → a parquet `FilterPredicate` evaluated
  * against ROW-GROUP statistics only (record-level assembly filtering
  * stays OFF): inside a kept file, row groups whose min/max disprove
  * the predicate are skipped before a page is read — the sub-file
  * tier of the same stats-pruning ladder the manifest runs at file
  * granularity. Translation is strict: the column must exist in the
  * FILE's schema with a physical type matching the literal (schema
  * evolution never mistranslates), and anything unsupported simply
  * drops out of the conjunction — fewer skips, never a wrong skip.
  * Spark re-evaluates every filter on the surviving rows (residuals
  * are always kept), so this is IO reduction, not semantics. */
private[connector] object GraftParquetFilters {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}

  def build(filters: Array[Filter],
      schema: MessageType): Option[FilterPredicate] =
    filters.flatMap(translate(_, schema))
      .reduceOption(FilterApi.and)

  /** Rewrite the column names a pushed filter references (logical ->
    * this file's physical epoch names). Only the shapes `translate`
    * understands need handling; anything else passes through unmapped
    * and simply fails the strict schema check below — fewer row-group
    * skips on that file, never a wrong one. */
  def renameColumns(f: Filter, m: Map[String, String]): Filter = {
    def r(c: String): String = m.getOrElse(c, c)
    f match {
      case EqualTo(c, v) => EqualTo(r(c), v)
      case GreaterThan(c, v) => GreaterThan(r(c), v)
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(r(c), v)
      case LessThan(c, v) => LessThan(r(c), v)
      case LessThanOrEqual(c, v) => LessThanOrEqual(r(c), v)
      case In(c, vs) => In(r(c), vs)
      case other => other
    }
  }

  private def translate(f: Filter,
      schema: MessageType): Option[FilterPredicate] = f match {
    case EqualTo(c, v) => leaf(schema, c, v, "eq")
    case GreaterThan(c, v) => leaf(schema, c, v, "gt")
    case GreaterThanOrEqual(c, v) => leaf(schema, c, v, "gtEq")
    case LessThan(c, v) => leaf(schema, c, v, "lt")
    case LessThanOrEqual(c, v) => leaf(schema, c, v, "ltEq")
    case In(c, vs) if vs.nonEmpty && vs.length <= 32 =>
      val legs = vs.map(v => leaf(schema, c, v, "eq"))
      if (legs.exists(_.isEmpty)) None
      else legs.flatten.reduceOption(FilterApi.or)
    case _ => None
  }

  private def compare[T <: Comparable[T], C <: org.apache.parquet
      .filter2.predicate.Operators.Column[T] with org.apache.parquet
      .filter2.predicate.Operators.SupportsLtGt](col: C, v: T,
      op: String): FilterPredicate = op match {
    case "eq" => FilterApi.eq(col, v)
    case "gt" => FilterApi.gt(col, v)
    case "gtEq" => FilterApi.gtEq(col, v)
    case "lt" => FilterApi.lt(col, v)
    case "ltEq" => FilterApi.ltEq(col, v)
  }

  /** One comparison leaf, or None when the file/column/literal shape
    * does not line up exactly. Timestamps compare as the epoch micros
    * the engine writes (`TIMESTAMP(MICROS)`); millis, nanos and INT96
    * columns drop out, as they would round the bound. */
  private def leaf(schema: MessageType, c: String, v: Any,
      op: String): Option[FilterPredicate] = {
    if (v == null || !schema.containsField(c)) return None
    val t = schema.getType(schema.getFieldIndex(c))
    if (!t.isPrimitive) return None
    import PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    def int(i: Int) = Some(compare(FilterApi.intColumn(c), Int.box(i), op))
    def long(l: Long) =
      Some(compare(FilterApi.longColumn(c), Long.box(l), op))
    def micros(ts: TimestampLogicalTypeAnnotation, utc: Boolean) =
      ts.getUnit == TimeUnit.MICROS && ts.isAdjustedToUTC == utc
    (t.asPrimitiveType().getPrimitiveTypeName,
      t.getLogicalTypeAnnotation, v) match {
      case (INT32, null | _: IntLogicalTypeAnnotation, i: java.lang.Integer) =>
        int(i)
      case (INT32, _: IntLogicalTypeAnnotation, i: java.lang.Short) =>
        int(i.toInt)
      case (INT32, _: IntLogicalTypeAnnotation, i: java.lang.Byte) =>
        int(i.toInt)
      case (INT32, _: DateLogicalTypeAnnotation,
          d @ (_: java.sql.Date | _: java.time.LocalDate)) =>
        int(DateTimeUtils.anyToDays(d))
      case (INT64, null | _: IntLogicalTypeAnnotation, l: java.lang.Long) =>
        long(l)
      case (INT64, ts: TimestampLogicalTypeAnnotation,
          i @ (_: java.sql.Timestamp | _: java.time.Instant))
        if micros(ts, utc = true) =>
        long(DateTimeUtils.anyToMicros(i))
      case (INT64, ts: TimestampLogicalTypeAnnotation,
          l: java.time.LocalDateTime) if micros(ts, utc = false) =>
        long(DateTimeUtils.localDateTimeToMicros(l))
      case (FLOAT, _, fl: java.lang.Float) =>
        Some(compare(FilterApi.floatColumn(c), fl, op))
      case (DOUBLE, _, d: java.lang.Double) =>
        Some(compare(FilterApi.doubleColumn(c), d, op))
      case (BINARY, _: StringLogicalTypeAnnotation, s: String) =>
        Some(compare(FilterApi.binaryColumn(c), Binary.fromString(s), op))
      // DECIMAL stored compact (INT32 for p<=9, INT64 for p<=18 — the
      // overwhelmingly common shapes): compare UNSCALED values at the
      // FILE's scale. The literal must re-scale exactly (trailing
      // zeros only) — a finer-scaled literal drops out rather than
      // round; unscaled order == decimal order at equal scale, so a
      // kept leaf can never wrong-prune. FLBA decimals stay
      // untranslated (residual evaluation keeps them exact).
      case (INT32, d: DecimalLogicalTypeAnnotation,
          bd: java.math.BigDecimal) =>
        scala.util.Try(bd.setScale(d.getScale).unscaledValue()
          .intValueExact()).toOption.flatMap(int)
      case (INT64, d: DecimalLogicalTypeAnnotation,
          bd: java.math.BigDecimal) =>
        scala.util.Try(bd.setScale(d.getScale).unscaledValue()
          .longValueExact()).toOption.flatMap(long)
      case _ => None
    }
  }
}

/** Executor-side tombstone loader: reads each tombstone file once per
  * JVM (a small per-path cache — tombstone files are immutable, like
  * every snapshot file) and hands readers the union of the key sets
  * their partition must apply. Loads decode through the same columnar
  * reader as the data files and box every key through [[keyAt]], the
  * probe's own boxing, so membership is an exact equality — and a
  * NULL tombstone key is never added, matching the read pipeline's
  * IN-semantics rule that NULL kills nothing. */
private[connector] object GraftTombstones {
  import org.apache.spark.sql.vectorized.ColumnVector

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.HashSet[Any]]()

  /** The set-member form of row `r`'s key: primitives box by value,
    * decimals as `Decimal`, and strings AND binaries as `UTF8String`
    * (value equality over the bytes — a `byte[]` would compare by
    * identity and never match). A `UTF8String` may view the vector's
    * reused buffer, so it is valid only until the next batch. */
  def keyAt(col: ColumnVector, r: Int, keyType: DataType): Any =
    keyType match {
      case LongType => col.getLong(r)
      case IntegerType | DateType => col.getInt(r)
      case ShortType => col.getShort(r)
      case ByteType => col.getByte(r)
      case DoubleType => col.getDouble(r)
      case FloatType => col.getFloat(r)
      case BooleanType => col.getBoolean(r)
      case TimestampType | TimestampNTZType => col.getLong(r)
      case d: DecimalType => col.getDecimal(r, d.precision, d.scale)
      case _ => col.getUTF8String(r)
    }

  private def load(path: String, keyName: String, keyType: DataType,
      sessionTz: String, conf: Configuration): java.util.HashSet[Any] = {
    val s = new java.util.HashSet[Any]()
    val r = new GraftColumnarReader(path,
      StructType(Seq(StructField(keyName, keyType, nullable = true))),
      sessionTz, conf)
    try {
      while (r.next()) {
        val b = r.get()
        val col = b.column(0)
        var i = 0
        while (i < b.numRows()) {
          // a string/binary key is a view over the vector's buffer,
          // which the next batch overwrites: keep a copy
          if (!col.isNullAt(i)) s.add(keyAt(col, i, keyType) match {
            case u: UTF8String => u.clone()
            case k => k
          })
          i += 1
        }
      }
    } finally r.close()
    s
  }

  /** Tombstone files are read with `conf`, the scan's session Hadoop
    * conf, and `sessionTz`, its time zone, like the data files they
    * filter. */
  def killSet(tombs: Array[TombRef], keyName: String, keyType: DataType,
      sessionTz: String, conf: Configuration): java.util.HashSet[Any] = {
    if (cache.size() > 64) cache.clear() // bound executor memory
    val out = new java.util.HashSet[Any]()
    tombs.foreach { t =>
      // cache key includes the column read: concurrent scans may
      // address the same tombstone file by different epoch names
      out.addAll(cache.computeIfAbsent(
        t.absolutePath + "#" + keyName + "#" + sessionTz,
        _ => load(t.absolutePath, keyName, keyType, sessionTz, conf)))
    }
    out
  }
}

/** The connector's one parquet decoder: Spark's own vectorized reader
  * (`VectorizedParquetRecordReader`) serves `ColumnarBatch`es straight
  * to `BatchScanExec`, so the scan → ColumnarToRow → downstream
  * pipeline stays inside whole-stage codegen — the decode profile
  * 100 TB scans need. Batch scans, stream micro-batches and tombstone
  * kill-set loads all decode here. Schema evolution is handled
  * WITHOUT leaving the columnar path: a file that predates a required
  * column reads its present columns vectorized, the missing columns
  * ride in as constant-NULL "partition" vectors (`initBatch`), and
  * the final batch presents the vectors PERMUTED into the
  * required-schema order (a `ColumnarBatch` is just an ordered view
  * over `ColumnVector`s — the wrapper costs one small object per
  * batch, no copies). */
private[graft] class GraftColumnarReader(file: String,
    required: StructType, sessionTz: String,
    // the driver-shipped session Hadoop conf (copied — setSchema etc.
    // mutate)
    base: Configuration,
    fills: Array[(String, String)] = Array.empty,
    // logical -> physical names for THIS file (rename epochs): the
    // vectorized reader is handed the PHYSICAL-named schema — same
    // types, same order — and the resulting batch is positional, so
    // column i IS logical field i with zero copies or wrappers
    aliases: Array[(String, String)] = Array.empty,
    // pushed filters, ALREADY translated to this file's physical
    // names: compiled against the footer schema into a parquet
    // FilterPredicate for ROW-GROUP pruning (stats-only skipping) —
    // Spark re-evaluates every residual on the surviving rows, so
    // this is IO reduction with columnar decode, never semantics
    pushed: Array[Filter] = Array.empty)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  // requested NULLABLE: the vectorized reader refuses a missing
  // non-nullable column, and a missing column is what a file older
  // than the column, a `_file` metadata column and the changelog's
  // event columns all are (the constant-fill channel supplies them)
  private val requested: StructType = {
    val m = aliases.toMap
    StructType(required.fields.map(f =>
      f.copy(name = m.getOrElse(f.name, f.name), nullable = true)))
  }
  import org.apache.spark.sql.vectorized.ColumnarBatch
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.hadoop.mapred.FileSplit
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.hadoop.mapreduce.TaskAttemptID

  // the production init path (not the column-list test overload, which
  // pins int96AsTimestamp=false and would reject Spark's own INT96
  // timestamps): hand ParquetReadSupport the required CATALYST schema
  // and let it clip the file schema — a required column the file
  // predates comes back as a constant-NULL vector, so schema
  // evolution never leaves the columnar path
  private val conf = new Configuration(base)
  conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
  conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
    classOf[ParquetReadSupport].getName)
  // the schema converter reads these with a bare .toBoolean — they
  // must be PRESENT (the FileFormat path copies the whole SQLConf
  // into its hadoop conf; this reader sets exactly what it needs).
  // Values: Spark-written snapshots (INT96 ⇒
  // timestamp, binary ⇄ string per write metadata), session-tz
  // timestamps (no NTZ inference — the Tables.load discipline),
  // case-insensitive resolution.
  locally {
    val C = org.apache.spark.sql.internal.SQLConf
    conf.set(C.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(C.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(C.CASE_SENSITIVE.key, "false")
    conf.set(C.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "false")
    conf.set(C.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
  }
  // the footer, read ONCE through the stream the reader then keeps
  // (Spark's own file scan does the same): a footer read through
  // `ParquetFileReader.open(InputFile)` would build its options from
  // a fresh default Configuration, re-parsing the Hadoop XML defaults
  // for every file
  private val inputFile = HadoopInputFile.fromPath(new Path(file), conf)
  private val stream = inputFile.newStream()
  private val footer =
    try ParquetFileReader.readFooter(inputFile,
      org.apache.parquet.HadoopReadOptions.builder(conf, new Path(file))
        .build(), stream)
    catch { case t: Throwable => stream.close(); throw t }
  // row-group pruning under a pushed predicate: compile against the
  // FOOTER schema (strict name+physical-type match — schema evolution
  // never mistranslates; unsupported shapes drop out, pruning less
  // but never wrong) and hand it to the reader's options the way
  // Spark's own parquet source does — getFilteredRecordCount /
  // getRowGroups then skip disproven groups before any page IO
  locally {
    if (pushed.nonEmpty) {
      // ROW-GROUP statistics filtering ONLY. Page-level
      // (column-index) filtering must stay OFF: a predicate may
      // reference an UNPROJECTED column (file pruning needs no
      // values), and parquet's ColumnIndexFilter
      // resolves filter columns against the requested projection —
      // an unprojected column yields empty row ranges and silently
      // drops every row (measured: COUNT under a consumed partition
      // filter returned 0 while collect() was exact, because count's
      // column pruning removed the filter column).
      conf.setBoolean("parquet.filter.columnindex.enabled", false)
      GraftParquetFilters.build(pushed,
        footer.getFileMetaData.getSchema).foreach(p =>
        org.apache.parquet.hadoop.ParquetInputFormat
          .setFilterPredicate(conf, p))
    }
  }

  private val reader = new VectorizedParquetRecordReader(
    java.time.ZoneId.of(sessionTz), "CORRECTED", "", "CORRECTED", "",
    /* useOffHeap = */ false, /* capacity = */ 4096)
  reader.initialize(
    new FileSplit(new Path(file), 0, Long.MaxValue, Array.empty[String]),
    new TaskAttemptContextImpl(conf, new TaskAttemptID()),
    Some(inputFile), Some(stream), Some(footer))
  reader.initBatch(StructType(Nil), new GenericInternalRow(0))
  reader.enableReturningBatches()

  override def next(): Boolean = reader.nextBatch()

  // initial-default fill: a required column the file predates comes
  // back as a constant-NULL vector from the clipped read; when the
  // schema declares an initial default for it, swap in a
  // ConstantColumnVector of the literal — still fully columnar
  private val fillByIdx: Map[Int, (DataType, String)] =
    fills.flatMap { case (n, r) =>
      val i = required.fieldNames.indexWhere(_.equalsIgnoreCase(n))
      if (i < 0) None else Some(i -> ((required.fields(i).dataType, r)))
    }.toMap

  override def get(): ColumnarBatch = {
    val b = reader.resultBatch()
    if (fillByIdx.isEmpty) b
    else {
      import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
      val cols = Array.tabulate[org.apache.spark.sql.vectorized
        .ColumnVector](required.length) { i =>
        fillByIdx.get(i) match {
          case None => b.column(i)
          case Some((dt, r)) =>
            val v = new ConstantColumnVector(b.numRows(), dt)
            dt match {
              case IntegerType => v.setInt(r.toInt)
              case LongType => v.setLong(r.toLong)
              case DoubleType => v.setDouble(r.toDouble)
              case FloatType => v.setFloat(r.toFloat)
              case BooleanType => v.setBoolean(r.toBoolean)
              case _ => v.setUtf8String(UTF8String.fromString(r))
            }
            v
        }
      }
      val patched = new ColumnarBatch(cols)
      patched.setNumRows(b.numRows())
      patched
    }
  }

  override def close(): Unit = reader.close()
}

/** Row selection WITHOUT leaving the columnar path: the inner reader
  * decodes the full batch vectorized (the kill key riding as a hidden
  * trailing column when the query didn't project it), and survivors
  * surface through SELECTION vectors — wrappers that remap row indices
  * through the survivor array with ZERO value copies (the
  * deletion-vector execution shape; Spark's `ColumnarBatch` has no
  * native selection concept, so the indirection lives in the vector).
  * A row survives when it is past the file's first `skipRows` rows
  * (the pushed-OFFSET remainder) and, with `killIdx >= 0`, its key is
  * NULL or not in `kills` (merge-on-read) — and, in changelog
  * PRE-IMAGE mode (`emits` non-null), only when its key IS in `emits`.
  * A batch that loses no rows passes through untouched; an emptied
  * batch is skipped. Keys box through [[GraftTombstones.keyAt]], the
  * loader's own boxing, so set membership is exact. */
private[graft] class GraftColumnarKillReader(
    inner: GraftColumnarReader, emitCols: Int, killIdx: Int,
    keyType: DataType, kills: java.util.HashSet[Any],
    emits: java.util.HashSet[Any], skipRows: Long)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private var out: ColumnarBatch = _
  private var toSkip: Long = skipRows

  // NULL kills nothing — the read pipeline's IN-semantics rule — and
  // a pre-image never emits a NULL key
  private def keeps(keyCol: ColumnVector, r: Int): Boolean =
    if (keyCol.isNullAt(r)) emits == null
    else {
      val k = GraftTombstones.keyAt(keyCol, r, keyType)
      !kills.contains(k) && (emits == null || emits.contains(k))
    }

  override def next(): Boolean = {
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val skip = math.min(toSkip, n.toLong).toInt
      toSkip -= skip
      val sel = new Array[Int](n)
      var m = 0
      var r = skip
      while (r < n) {
        if (killIdx < 0 || keeps(b.column(killIdx), r)) {
          sel(m) = r; m += 1
        }
        r += 1
      }
      if (m > 0) {
        out =
          if (m == n && emitCols == b.numCols()) b
          else {
            val cols = Array.tabulate[ColumnVector](emitCols) { i =>
              if (m == n) b.column(i)
              else new GraftSelectionVector(b.column(i), sel)
            }
            val filtered = new ColumnarBatch(cols)
            filtered.setNumRows(m)
            filtered
          }
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = out

  override def close(): Unit = inner.close()
}

/** A [[org.apache.spark.sql.vectorized.ColumnVector]] view that remaps
  * row indices through a selection array: `get*(i)` answers from the
  * base vector at `sel(i)`. Nested types delegate structurally —
  * `getArray`/`getMap` return the base's own views (child offsets are
  * base-coordinates, valid standalone) and `getChild` wraps the child
  * with the SAME selection, which is exactly what `ColumnarRow`'s
  * per-field reads need. Null accounting is conservative (the base's
  * counts bound the view's); `close` is a no-op — the inner reader
  * owns the base vectors' lifecycle. */
private[graft] class GraftSelectionVector(
    base: org.apache.spark.sql.vectorized.ColumnVector,
    sel: Array[Int])
  extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {

  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls(): Int = base.numNulls()
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int)
  : org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(i))
  override def getMap(i: Int)
  : org.apache.spark.sql.vectorized.ColumnarMap = base.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
  : org.apache.spark.sql.types.Decimal =
    base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getInterval(i: Int)
  : org.apache.spark.unsafe.types.CalendarInterval =
    base.getInterval(sel(i))
  // one wrapper per struct child, built on demand and reused —
  // ColumnarRow calls getChild per FIELD per ROW
  private lazy val children =
    new java.util.concurrent.ConcurrentHashMap[Integer,
      GraftSelectionVector]()
  override def getChild(i: Int)
  : org.apache.spark.sql.vectorized.ColumnVector =
    children.computeIfAbsent(i,
      j => new GraftSelectionVector(base.getChild(j), sel))
}
