package graft.sources.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{MaterializedView, SnapshotTable}

/** A [[TableCatalog]] over a directory of [[SnapshotTable]] roots, so
  * SQL names snapshot tables directly:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.connector.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *
  *   CREATE TABLE graft.db.orders (o_orderkey BIGINT, ...)
  *   INSERT INTO graft.db.orders SELECT ...      -- CAS append commit
  *   INSERT OVERWRITE graft.db.orders SELECT ... -- truncate-replace
  *   SELECT * FROM graft.db.orders VERSION AS OF 2
  *   ALTER TABLE graft.db.orders ADD COLUMNS (note STRING)
  *   CREATE TABLE graft.db.top AS SELECT ...     -- CTAS
  * }}}
  *
  * Layout: `<warehouse>/<namespace...>/<table>` — a table is any
  * directory holding a `_commits` log. All data paths go through the
  * claim/publish protocol ([[GraftSnapshotWrite]] for writes,
  * [[GraftSnapshotSource]] scans for reads, with the same pushdown /
  * pruning / statistics); the catalog only resolves names. ALTER
  * TABLE ADD COLUMNS commits a metadata-only version through the
  * additive-evolution rule (old files read NULL for the new column).
  * Renames move the root directory; they are a namespace operation,
  * not a commit, and concurrent writers to the old name lose their
  * root — rename idle tables, the same operational rule as moving any
  * table's storage. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog with ProcedureCatalog {

  /** Iceberg-style maintenance procedures:
    * {{{
    *   CALL graft.system.compact('db.t')
    *   CALL graft.system.expire_snapshots('db.t', 3)
    *   CALL graft.system.vacuum('db.t', 600000)
    * }}}
    * The namespace segment is free-form (procedures resolve by name);
    * the table argument is 'ns.table' relative to this catalog's
    * warehouse. Each returns a one-row result set. */
  override def listProcedures(namespace: Array[String])
  : Array[Identifier] =
    GraftProcedures.Names.map(Identifier.of(namespace, _)).toArray

  override def loadProcedure(ident: Identifier)
  : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  /** `'db.t'` (or `'t'` at warehouse root) → snapshot root path. */
  private[connector] def resolveRoot(table: String): String = {
    val parts = table.split('.').toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table reference '$table'")
    val root = (warehouse +: parts.map(safe)).mkString("/")
    require(isTable(root), s"'$table' is not a graft table ($root)")
    root
  }

  /** Like [[resolveRoot]] but for a table being CREATED (clone
    * target): the name must be free. */
  private[connector] def resolveNewRoot(table: String): String = {
    val parts = table.split('.').toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table reference '$table'")
    val root = (warehouse +: parts.map(safe)).mkString("/")
    require(!isTable(root), s"'$table' already exists ($root)")
    root
  }

  private[connector] def activeSpark = spark

  /** The V2 `bucket` function — how the planner verifies that two
    * bucketed snapshot tables share the SAME layout function before
    * aligning their partitions in a storage-partitioned join (and how
    * it evaluates the function when one side is missing partitions).
    * Must agree bit-for-bit with the write side's
    * `pmod(hash(key), n)` in [[SnapshotTable.commitBucketed]]. */
  override def listFunctions(namespace: Array[String])
  : Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
  : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def hfs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** Path segments come from SQL identifiers — refuse anything that
    * could escape the warehouse directory. */
  private def safe(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("\\")
      && part != "." && part != "..",
      s"illegal identifier segment '$part'")
    part
  }

  private def rootOf(ident: Identifier): String =
    ((warehouse +: ident.namespace().toSeq.map(safe)) :+
      safe(ident.name())).mkString("/")

  private def isTable(root: String): Boolean =
    hfs.exists(new Path(root, "_commits"))

  // ---- tables --------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq.map(safe))
      .mkString("/"))
    if (!hfs.exists(dir)) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    hfs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        isTable(st.getPath.toUri.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(rootOf(ident))

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    val v = SnapshotTable.currentVersion(spark, root)
    if (v != 0L)
      return new GraftSnapshotTable(root, v,
        GraftSnapshotSource.schemaOf(spark, root, v))
    metadataOf(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** Iceberg-style SQL metadata tables: `SELECT * FROM
    * graft.db.t.history` (the commit log), `...t.files` (the current
    * manifest, one row per file with stats), `...t.properties`
    * (TBLPROPERTIES). Resolved only when no REAL table shadows the
    * name, computed driver-side from metadata (zero data IO) and
    * served through a LocalScan. */
  private def metadataOf(ident: Identifier,
      pinned: Option[Long] = None): Option[Table] = {
    val kind = ident.name().toLowerCase
    val known = GraftMetadataTable.Kinds.contains(kind) ||
      GraftChangesTable.Kinds.contains(kind)
    if (!known || ident.namespace().isEmpty) return None
    val parentRoot =
      (warehouse +: ident.namespace().toSeq.map(safe)).mkString("/")
    if (!isTable(parentRoot)) return None
    pinned.foreach(v =>
      require(SnapshotTable.versions(spark, parentRoot).contains(v),
        s"version $v is not committed at $parentRoot"))
    val fullName = (ident.namespace() :+ ident.name()).mkString(".")
    if (GraftChangesTable.Kinds.contains(kind))
      Some(new GraftChangesTable(fullName, kind, parentRoot, pinned))
    else
      Some(new GraftMetadataTable(fullName, kind, parentRoot, pinned))
  }

  /** SQL `VERSION AS OF <v>` — pin the scan to a committed version.
    * Also resolves the metadata tables at that version: `SELECT *
    * FROM graft.db.t.files VERSION AS OF 3` lists version 3's
    * manifest, `...t.history VERSION AS OF 3` the log as it stood
    * then — how a user inspects what an old snapshot was made of. */
  override def loadTable(ident: Identifier, version: String): Table = {
    // non-numeric = a TAG or BRANCH name: `VERSION AS OF
    // 'run-2024-06'` reads the snapshot the tag pins; a branch name
    // reads the branch's current head (numeric names are refused at
    // tag/branch creation, and the namespaces refuse collisions, so
    // resolution is unambiguous)
    val v = if (version.nonEmpty && version.forall(_.isDigit))
      version.toLong
    else {
      val tagRoot =
        if (isTable(rootOf(ident))) rootOf(ident)
        else (warehouse +: ident.namespace().toSeq.map(safe))
          .mkString("/") // metadata table: tags live on the parent
      SnapshotTable.tags(spark, tagRoot).get(version)
        .orElse(
          if (SnapshotTable.branches(spark, tagRoot).contains(version))
            Some(SnapshotTable.branchHead(spark, tagRoot, version))
          else None)
        .getOrElse(throw new IllegalArgumentException(
          s"'$version' is neither a version number, a tag nor a " +
            s"branch of $tagRoot (tags: ${SnapshotTable
              .tags(spark, tagRoot).keys.toSeq.sorted.mkString(", ")}; " +
            s"branches: ${SnapshotTable.branches(spark, tagRoot)
              .mkString(", ")})"))
    }
    if (!isTable(rootOf(ident))) {
      metadataOf(ident, Some(v)) match {
        case Some(t) => return t
        case None =>
      }
    }
    val root = rootOf(ident)
    require(SnapshotTable.versions(spark, root).contains(v),
      s"version $v is not committed at $root")
    new GraftSnapshotTable(root, v,
      GraftSnapshotSource.schemaOf(spark, root, v))
  }

  /** SQL `TIMESTAMP AS OF <ts>` — Spark hands MICROS since epoch;
    * resolve to the newest version committed at or before it. Also
    * resolves the metadata tables at that instant, mirroring
    * `VERSION AS OF`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!isTable(rootOf(ident))) {
      val kind = ident.name().toLowerCase
      if ((GraftMetadataTable.Kinds.contains(kind) ||
          GraftChangesTable.Kinds.contains(kind)) &&
        ident.namespace().nonEmpty) {
        val parentRoot = (warehouse +:
          ident.namespace().toSeq.map(safe)).mkString("/")
        if (isTable(parentRoot)) {
          val v = SnapshotTable.versionAsOf(spark, parentRoot,
            timestamp / 1000L)
          metadataOf(ident, Some(v)).foreach(t => return t)
        }
      }
    }
    val root = rootOf(ident)
    val v = SnapshotTable.versionAsOf(spark, root, timestamp / 1000L)
    new GraftSnapshotTable(root, v,
      GraftSnapshotSource.schemaOf(spark, root, v))
  }

  /** Declares constraint + DEFAULT support so the parser accepts
    * `CHECK (...)` and `DEFAULT <expr>` clauses for this catalog's
    * tables. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** CREATE TABLE with constraints: ENFORCED CHECK constraints
    * persist as `graft.check.<name>` properties (the predicate SQL
    * text); [[GraftSnapshotTable.constraints]] surfaces them back and
    * Spark's write planning injects the row-level validation into
    * EVERY V2 write — INSERT, UPDATE, MERGE, the streaming sinks —
    * so a violating row fails the WRITE instead of poisoning the
    * table (the "expectations at the table boundary" pattern;
    * data-quality checks inside queries stay in
    * [[graft.operators.Expectations]]). PRIMARY KEY / UNIQUE /
    * FOREIGN KEY are refused rather than recorded-but-unenforced: a
    * constraint the engine won't enforce is a lie in the schema. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val checks = info.constraints().map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced(),
          s"graft CHECK constraints are always enforced; declare " +
            s"'${c.name}' ENFORCED (or drop NOT ENFORCED)")
        c
      case other => throw new UnsupportedOperationException(
        s"graft tables support enforced CHECK constraints only; " +
          s"got: ${other.toDDL}")
    }
    // column DEFAULTs persist beside the constraints; generated and
    // identity columns are out of scope (refused, not ignored)
    val defaults = info.columns().toSeq.flatMap { c =>
      require(c.generationExpression() == null &&
        c.identityColumnSpec() == null,
        s"graft tables do not support generated/identity columns " +
          s"('${c.name()}')")
      Option(c.defaultValue()).toSeq
        .flatMap(d => GraftDefaults.encode(c.name(), d))
    }.toMap
    val t = createTable(ident, info.schema(), info.partitions(),
      info.properties())
    if (checks.isEmpty && defaults.isEmpty) return t
    val root = rootOf(ident)
    SnapshotTable.setProperties(spark, root,
      SnapshotTable.tableProperties(spark, root) ++ defaults ++
        checks.map(c =>
          s"graft.check.${c.name}" -> c.predicateSql()).toMap)
    loadTable(ident)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (bucket(n, k) [, bucket(m, j) ...]) declares the
    // hash-bucket grid layout in pure SQL — the same declaration
    // commitBucketed records natively. Every later INSERT lands
    // INSIDE the layout (the write builder reads it from the table
    // properties), the scan reports KeyGroupedPartitioning, and a
    // join between two such tables runs with ZERO exchange (SPJ).
    // PARTITIONED BY (a[, b, ...]) — identity transforms — declares
    // the value-pure layout commitPartitionedOn records: every INSERT
    // splits its files per value TUPLE, partition pruning is exact on
    // every key, and GROUP BY any subset of the keys answers from the
    // manifest alone. Composite keys (date × tenant) are the standard
    // 100 TB layout. Anything else refuses: graft has no hive-style
    // directory partitions — value clustering is the write-time
    // clusterKey/Z-order job.
    val (identityTs, bucketTs) =
      partitions.toSeq.partition(_.name().equalsIgnoreCase("identity"))
    require(identityTs.isEmpty || bucketTs.isEmpty,
      "a table is laid out by hash buckets OR identity partition " +
        "columns, not both")
    val partitionKeys: Seq[String] = identityTs.map { t =>
      val refs = t.arguments().collect { case r: NamedReference => r }
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"identity partition takes one top-level column: ${t.describe()}")
      val col = refs.head.fieldNames().head
      val fd = schema.fields.find(_.name.equalsIgnoreCase(col))
        .getOrElse(throw new IllegalArgumentException(
          s"partition column '$col' is not in the table schema"))
      require(SnapshotTable.partitionableType(fd.dataType),
        s"identity partitioning does not support ${fd.dataType
          .simpleString} keys (int/long/short/byte/string/date)")
      fd.name
    }
    require(partitionKeys
      .map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size ==
      partitionKeys.size,
      "each column may appear in at most one identity partition " +
        "transform")
    val bucketLayout: Seq[(String, Int)] = bucketTs.map { t =>
      require(t.name().equalsIgnoreCase("bucket"),
        "graft tables are laid out by hash buckets (PARTITIONED BY " +
          "(bucket(n, col))), one identity partition column " +
          "(PARTITIONED BY (col)), or commit-time clustering " +
          s"(clusterKey / Z-order on the write) — '${t.describe()}' " +
          "is none of these")
      val n = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value() match {
            case i: java.lang.Integer => i.intValue()
            case l2: java.lang.Long => l2.intValue()
            case other => throw new IllegalArgumentException(
              s"bucket count must be an integer, got $other")
          }
      }.getOrElse(throw new IllegalArgumentException(
        s"bucket transform needs a count: ${t.describe()}"))
      val refs = t.arguments().collect { case r: NamedReference => r }
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"bucket takes exactly one top-level column: ${t.describe()}")
      require(n > 0, s"bucket count must be positive: ${t.describe()}")
      val col = refs.head.fieldNames().head
      val fd = schema.fields.find(_.name.equalsIgnoreCase(col))
        .getOrElse(throw new IllegalArgumentException(
          s"bucket column '$col' is not in the table schema"))
      (fd.name, n)
    }
    require(bucketLayout.map(_._1.toLowerCase(java.util.Locale.ROOT))
      .distinct.size == bucketLayout.size,
      "each column may appear in at most one bucket transform")
    val root = rootOf(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    schema.fields.foreach(f =>
      require(GraftSnapshotSource.supported(f.dataType),
        s"graft-snapshot does not support ${f.dataType.simpleString} " +
          s"column '${f.name}'"))
    SnapshotTable.createEmpty(spark, root, schema)
    if (bucketLayout.nonEmpty)
      SnapshotTable.setProperties(spark, root,
        SnapshotTable.tableProperties(spark, root) ++ Map(
          "graft.bucket.key" -> bucketLayout.map(_._1).mkString(","),
          "graft.bucket.count" -> bucketLayout.map(_._2).mkString(",")))
    if (partitionKeys.nonEmpty)
      SnapshotTable.setProperties(spark, root,
        SnapshotTable.tableProperties(spark, root) +
          ("graft.partition.key" -> partitionKeys.mkString(",")))
    // persist the table-behavior TBLPROPERTIES (write.* / graft.*):
    // `write.delete.mode` / `write.update.mode` / `write.merge.mode`
    // = merge-on-read select delta row-level commits, write.merge.key
    // names the row id — Spark's own reserved props (provider, owner,
    // location, ...) are catalog bookkeeping, not table behavior
    val keep = properties.asScala.filter { case (k, _) =>
      k.startsWith("write.") || k.startsWith("graft.") }
    // MERGE with what the layout declarations above just persisted —
    // a plain set would silently wipe graft.partition.key /
    // graft.bucket.key whenever PARTITIONED BY and TBLPROPERTIES
    // appear together, and every later INSERT would land unlaid-out
    if (keep.nonEmpty)
      SnapshotTable.setProperties(spark, root,
        SnapshotTable.tableProperties(spark, root) ++ keep.toMap)
    new GraftSnapshotTable(root, 1L,
      StructType(schema.fields.map(_.copy(nullable = true))))
  }

  /** Up-front validation of a multi-change column ALTER. The catalog
    * applies column changes as a SEQUENCE of metadata commits (drops,
    * then renames, comments, retypes, adds — each its own CAS
    * version); this pass replays that sequence against a SIMULATION of
    * the current schema plus the dropped/renamed-away name markers and
    * throws BEFORE any commit, so a statement that would fail at
    * change 3 leaves the table byte-identical instead of half-altered.
    * The refusals mirror [[SnapshotTable.dropColumns]] /
    * [[SnapshotTable.renameColumn]] / [[SnapshotTable.widenColumn]] /
    * [[SnapshotTable.commentColumn]] / [[SnapshotTable.addColumns]]
    * exactly (same messages); those ops keep the authoritative checks
    * — they re-run under the CAS claim — so this pass buys atomicity
    * of refusal, not enforcement. Markers recorded by EARLIER changes
    * in the same statement (a drop arming the ghost guard, a rename
    * reserving its old physical name) are simulated at a version
    * strictly after every live file's seq, so a later change in the
    * statement sees them exactly as a later standalone ALTER would. */
  private def validateColumnChanges(root: String,
      columnChanges: Seq[TableChange]): Unit = {
    val cur = SnapshotTable.currentVersion(spark, root)
    require(cur > 0L, s"no committed version at $root")
    val (entries, recorded) =
      SnapshotTable.readManifestFull(spark, root, cur)
    var schema: StructType = recorded.getOrElse(
      GraftSnapshotSource.schemaOf(spark, root, cur))
    val props = SnapshotTable.tableProperties(spark, root)
    val bucketKeys = props.get("graft.bucket.key")
      .map(_.split(',').toSeq).getOrElse(Seq.empty)
    def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
    // live data files written before version v still physically carry
    // whatever columns existed then — the condition every ghost /
    // reserved-name refusal keys on
    def liveDataBefore(v: Long): Boolean =
      entries.exists(e => e.kind == "d" && e.seq < v)
    // simulated commit version for THIS statement's own drops/renames:
    // strictly after every committed seq, so liveDataBefore sees any
    // live file as pre-drop/pre-rename (which it is)
    val simV = cur + 1L
    var dropped: Map[String, Long] = props.collect {
      case (k, v) if k.startsWith(SnapshotTable.DroppedKeyPrefix) =>
        (k.stripPrefix(SnapshotTable.DroppedKeyPrefix), v.toLong)
    }.toMap
    var renamedAway: Map[String, Long] = Map.empty
    def one(what: String, names: Array[String]): String = {
      require(names.length == 1,
        s"graft-snapshot ${what}s TOP-LEVEL columns only: " +
          s"'${names.mkString(".")}'")
      names.head
    }
    def field(name: String): StructField =
      schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' at $root (have " +
            s"${schema.fieldNames.mkString(", ")})"))
    def notTombstoneKey(name: String, op: String): Unit =
      require(!entries.exists(e => e.kind == "t" &&
        e.statsKey.exists(_.equalsIgnoreCase(name))),
        s"cannot $op '$name' at $root: it is the merge-on-read " +
          "tombstone key of live delete files — compact() first")
    def notBucketKey(name: String, op: String): Unit = {
      require(!bucketKeys.exists(_.equalsIgnoreCase(name)),
        s"cannot $op '$name' at $root: it is a declared " +
          "hash-bucket layout key")
      require(!SnapshotTable.partitionKeysOf(props)
        .exists(_.equalsIgnoreCase(name)),
        s"cannot $op '$name' at $root: it is a declared " +
          "identity-partition key")
    }
    def noCheckRef(name: String, op: String): Unit =
      props.foreach { case (k, sql) =>
        if (k.startsWith("graft.check."))
          require(!SnapshotTable.referencesColumn(spark, sql, name),
            s"cannot $op '$name' at $root: CHECK constraint " +
              s"'${k.stripPrefix("graft.check.")}' references it — " +
              "drop the constraint first")
      }
    // a NEW name (rename target or added column) must not collide with
    // bytes live files still store: a dropped-but-uncompacted ghost,
    // or a prior physical name of any column (rename epochs) — both
    // the committed ones and this statement's own simulated ones
    def nameFree(name: String, op: String): Unit = {
      dropped.get(lc(name)).foreach { at =>
        require(!liveDataBefore(at),
          s"cannot $op '$name' at $root: the name was dropped at " +
            s"version $at and live files still physically carry it; " +
            "run compact() first")
      }
      renamedAway.get(lc(name)).foreach { until =>
        require(!liveDataBefore(until),
          s"cannot $op '$name' at $root: live files still store a " +
            s"column under that name (renamed away at version $until); " +
            "run compact() first")
      }
      schema.fields.foreach { other =>
        SnapshotTable.renameEpochs(other).foreach { ep =>
          require(!(ep.name.equalsIgnoreCase(name) &&
            liveDataBefore(ep.until)),
            s"cannot $op '$name' at $root: live files still store " +
              s"column '${other.name}' under that name (renamed away " +
              s"at version ${ep.until}); run compact() first")
        }
      }
    }
    // replay in the order the catalog COMMITS: drops, renames,
    // comments, nullability refusals, retypes, adds, other (refused)
    def rank(c: TableChange): Int = c match {
      case _: TableChange.DeleteColumn => 0
      case _: TableChange.RenameColumn => 1
      case _: TableChange.UpdateColumnComment => 2
      case _: TableChange.UpdateColumnNullability => 3
      case _: TableChange.UpdateColumnType => 4
      case _: TableChange.AddColumn => 5
      case _ => 6
    }
    columnChanges.sortBy(rank).foreach {
      case d: TableChange.DeleteColumn =>
        val name = one("drop", d.fieldNames())
        val exists = schema.fields.exists(_.name.equalsIgnoreCase(name))
        if (!exists) {
          if (!d.ifExists()) throw new IllegalArgumentException(
            s"no column '$name' at $root")
        } else {
          val fd = field(name)
          require(schema.fields.length > 1,
            s"cannot drop every column of $root")
          notTombstoneKey(fd.name, "drop")
          notBucketKey(fd.name, "drop")
          noCheckRef(fd.name, "drop")
          schema = StructType(schema.fields.filterNot(_.name == fd.name))
          dropped += (lc(fd.name) -> simV)
        }
      case r: TableChange.RenameColumn =>
        val oldName = one("rename", r.fieldNames())
        val fd = field(oldName)
        require(!schema.fields.exists(
          _.name.equalsIgnoreCase(r.newName())),
          s"column already exists: '${r.newName()}' at $root")
        nameFree(r.newName(), "rename to")
        notTombstoneKey(fd.name, "rename")
        notBucketKey(fd.name, "rename")
        noCheckRef(fd.name, "rename")
        schema = StructType(schema.fields.map(x =>
          if (x.name == fd.name) x.copy(name = r.newName()) else x))
        renamedAway += (lc(fd.name) -> simV)
        dropped -= lc(r.newName())
      case c: TableChange.UpdateColumnComment =>
        field(one("comment", c.fieldNames()))
      case n: TableChange.UpdateColumnNullability =>
        throw new UnsupportedOperationException(
          s"graft tables serve every column nullable by the storage " +
            s"contract (schema evolution fills absent columns with " +
            s"NULL/defaults); '${n.fieldNames().mkString(".")}' " +
            "cannot change nullability — enforce presence with " +
            "ALTER TABLE ... ADD CONSTRAINT ... CHECK (col IS NOT " +
            "NULL) instead")
      case u: TableChange.UpdateColumnType =>
        val fd = field(one("widen", u.fieldNames()))
        if (!SnapshotTable.canWiden(fd.dataType, u.newDataType()))
          throw new IllegalArgumentException(
            s"cannot change '${fd.name}' from " +
              s"${fd.dataType.simpleString} to " +
              s"${u.newDataType().simpleString} at $root: only " +
              "lossless widenings are supported (int->long, " +
              "int->double, float->double, " +
              "decimal(P,S)->decimal(P',S) with P' > P)")
        notTombstoneKey(fd.name, "widen")
        notBucketKey(fd.name, "widen")
        schema = StructType(schema.fields.map(x =>
          if (x.name == fd.name) x.copy(dataType = u.newDataType())
          else x))
      case a: TableChange.AddColumn =>
        val name = one("add", a.fieldNames())
        require(a.fieldNames().length == 1,
          "graft-snapshot adds TOP-LEVEL columns only (a nested-typed " +
            "column is fine; splicing a field into an existing struct " +
            s"is not): '${a.fieldNames().mkString(".")}'")
        val dt = a.dataType()
        require(GraftSnapshotSource.supported(dt),
          s"graft-snapshot does not support ${dt.simpleString} " +
            s"column '$name'")
        require(!schema.fields.exists(_.name.equalsIgnoreCase(name)),
          s"column already exists: $name")
        nameFree(name, "add column")
        Option(a.defaultValue()).foreach { dv =>
          require(GraftDefaults.supported(dt),
            s"graft DEFAULT supports int/long/float/double/boolean/" +
              s"string columns; '$name' is ${dt.simpleString}")
          val lit = dv.getValue
          require(lit != null && lit.value() != null,
            s"graft ADD COLUMNS DEFAULT must be a non-null literal " +
              s"for '$name' (a nullable column already fills NULL " +
              "when omitted)")
        }
        schema = StructType(schema.fields :+
          StructField(name, dt, nullable = true))
        dropped -= lc(name)
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog supports ALTER TABLE ADD COLUMNS / DROP " +
            s"COLUMN only, got ${other.getClass.getSimpleName}")
    }
  }

  /** The full ALTER TABLE surface, every form a METADATA-ONLY commit:
    * ADD COLUMNS (initial DEFAULTs), DROP COLUMN (ghost-guarded),
    * RENAME COLUMN (physical-name epochs), ALTER COLUMN TYPE
    * (lossless widening), COMMENT, ADD/DROP CONSTRAINT, SET/DROP
    * DEFAULT, SET/UNSET TBLPROPERTIES. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    // SET/UNSET TBLPROPERTIES: the same write./graft. behavior
    // namespace CREATE persists — this is how a live table switches
    // to merge-on-read row-level commits (write.delete.mode etc.).
    // Namespaces owned by dedicated DDL refuse with the pointer, so a
    // property edit can never desynchronize managed state.
    val (propChanges, nonProp) = changes.partition {
      case _: TableChange.SetProperty |
           _: TableChange.RemoveProperty => true
      case _ => false
    }
    def guardKey(k: String): Unit = {
      // 'comment' rides along for COMMENT ON TABLE
      require(k.startsWith("write.") || k.startsWith("graft.") ||
        k == "comment",
        s"graft tables persist behavior properties only " +
          s"(write.* / graft.* / comment); '$k' is catalog bookkeeping")
      val owned = Seq(
        "graft.check." -> "ALTER TABLE ... ADD/DROP CONSTRAINT",
        "graft.default." -> "ALTER COLUMN ... SET/DROP DEFAULT",
        "graft.defaultlit." -> "ALTER COLUMN ... SET/DROP DEFAULT",
        "graft.dropped." -> "DROP COLUMN (managed marker)",
        "graft.hist" -> "CALL graft.system.analyze_histograms",
        "graft.bucket." -> ("commitBucketed / appendBucketed (the " +
          "declared physical layout — a property edit would lie " +
          "about how files are laid out)"))
      owned.foreach { case (pre, ddl) =>
        require(!k.startsWith(pre),
          s"property '$k' is managed by $ddl — use that instead")
      }
    }
    propChanges.foreach {
      // PARTITION-SPEC EVOLUTION: `graft.partition.key` is settable —
      // unlike the bucket namespace, nothing trusts this declaration
      // (readers verify per-file purity from recorded stats), so the
      // edit can only steer FUTURE writes — but it is VALIDATED like
      // CREATE: real columns, partitionable types, no bucket clash.
      case s: TableChange.SetProperty
        if s.property() == "graft.partition.key" =>
        SnapshotTable.evolvePartitioning(spark, root,
          s.value().split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      case r: TableChange.RemoveProperty
        if r.property() == "graft.partition.key" =>
        SnapshotTable.evolvePartitioning(spark, root, Seq.empty)
      case s: TableChange.SetProperty =>
        guardKey(s.property())
        SnapshotTable.setProperties(spark, root,
          SnapshotTable.tableProperties(spark, root) +
            (s.property() -> s.value()))
      case r: TableChange.RemoveProperty =>
        guardKey(r.property())
        SnapshotTable.setProperties(spark, root,
          SnapshotTable.tableProperties(spark, root) - r.property())
      case _ => ()
    }
    if (nonProp.isEmpty) return loadTable(ident)
    val changesLeft = nonProp
    // ALTER TABLE ADD/DROP CONSTRAINT: property edits (metadata only,
    // like the CREATE TABLE path). An added CHECK is NOT validated
    // against existing rows here — it gates writes from now on; run a
    // validating scan first if the history must comply.
    val (constraintChanges, rest) = changesLeft.partition {
      case _: TableChange.AddConstraint |
           _: TableChange.DropConstraint => true
      case _ => false
    }
    // ALTER TABLE ... ALTER COLUMN c SET/DROP DEFAULT: property-only,
    // affects FUTURE inserts (standard SQL semantics — no read-side
    // rewrite, so it is exact)
    val (defaultChanges, columnChanges) = rest.partition {
      case _: TableChange.UpdateColumnDefaultValue => true
      case _ => false
    }
    defaultChanges.foreach {
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames().length == 1,
          "graft DEFAULT applies to top-level columns only")
        val colName = u.fieldNames()(0)
        val field = GraftSnapshotSource
          .schemaOf(spark, root, SnapshotTable.currentVersion(spark, root))
          .fields.find(_.name.equalsIgnoreCase(colName))
          .getOrElse(throw new IllegalArgumentException(
            s"no column '$colName' at $root"))
        val props = SnapshotTable.tableProperties(spark, root)
        val newSql = Option(u.newCurrentDefault()).map(_.getSql)
          .filter(s => s != null && s.nonEmpty)
        newSql match {
          case None => SnapshotTable.setProperties(spark, root,
            props -- GraftDefaults.keysFor(field.name))
          case Some(sql) => SnapshotTable.setProperties(spark, root,
            props ++ GraftDefaults.encodeSql(field.name, sql,
              field.dataType))
        }
      case _ => ()
    }
    constraintChanges.foreach {
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints
            .Check =>
          SnapshotTable.setProperties(spark, root,
            SnapshotTable.tableProperties(spark, root) +
              (s"graft.check.${c.name}" -> c.predicateSql()))
        case other => throw new UnsupportedOperationException(
          s"graft tables support enforced CHECK constraints only; " +
            s"got: ${other.toDDL}")
      }
      case d: TableChange.DropConstraint =>
        val key = s"graft.check.${d.name}"
        val props = SnapshotTable.tableProperties(spark, root)
        if (!props.contains(key) && !d.ifExists())
          throw new IllegalArgumentException(
            s"no CHECK constraint '${d.name}' on $root")
        SnapshotTable.setProperties(spark, root, props - key)
      case _ => ()
    }
    if (columnChanges.isEmpty) return loadTable(ident)
    // A multi-change ALTER applies as a SEQUENCE of metadata commits
    // (drops, then renames, comments, retypes, adds — each its own
    // CAS version). Refusals therefore validate UP FRONT against a
    // simulation of that sequence, so a statement that would fail at
    // change 3 leaves the table untouched instead of half-altered.
    // SnapshotTable's ops keep the authoritative checks (they re-run
    // under the CAS claim); this pass mirrors them for atomicity of
    // refusal, not as the enforcement point.
    validateColumnChanges(root, columnChanges)
    // ALTER TABLE ... DROP COLUMN: metadata-only narrowing commit
    // (SnapshotTable.dropColumns owns the dependency refusals and the
    // ghost marker that guards later re-ADDs of the same name)
    val (drops, renamesAndAdds) = columnChanges.partition {
      case _: TableChange.DeleteColumn => true
      case _ => false
    }
    drops.foreach {
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft-snapshot drops TOP-LEVEL columns only: " +
            s"'${d.fieldNames().mkString(".")}'")
        val name = d.fieldNames().head
        val exists = GraftSnapshotSource
          .schemaOf(spark, root, SnapshotTable.currentVersion(spark, root))
          .fields.exists(_.name.equalsIgnoreCase(name))
        if (exists) SnapshotTable.dropColumns(spark, root, Seq(name))
        else if (!d.ifExists()) throw new IllegalArgumentException(
          s"no column '$name' at $root")
      case _ => ()
    }
    // ALTER TABLE ... RENAME COLUMN: metadata-only commit recording a
    // physical-name epoch so per-file readers translate old files
    val (renames, typesAndAdds) = renamesAndAdds.partition {
      case _: TableChange.RenameColumn => true
      case _ => false
    }
    renames.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft-snapshot renames TOP-LEVEL columns only: " +
            s"'${r.fieldNames().mkString(".")}'")
        SnapshotTable.renameColumn(spark, root,
          r.fieldNames().head, r.newName())
      case _ => ()
    }
    // ALTER TABLE ... ALTER COLUMN c COMMENT: metadata-only stamp;
    // nullability changes are refused with the honest pointer (reads
    // are nullable-forced by the storage contract — enforce presence
    // with an enforced CHECK constraint instead)
    val (comments, typesAndAdds2) = typesAndAdds.partition {
      case _: TableChange.UpdateColumnComment => true
      case _ => false
    }
    comments.foreach {
      case c: TableChange.UpdateColumnComment =>
        require(c.fieldNames().length == 1,
          "graft-snapshot comments TOP-LEVEL columns only: " +
            s"'${c.fieldNames().mkString(".")}'")
        SnapshotTable.commentColumn(spark, root,
          c.fieldNames().head, c.newComment())
      case _ => ()
    }
    typesAndAdds2.foreach {
      case n: TableChange.UpdateColumnNullability =>
        throw new UnsupportedOperationException(
          s"graft tables serve every column nullable by the storage " +
            s"contract (schema evolution fills absent columns with " +
            s"NULL/defaults); '${n.fieldNames().mkString(".")}' " +
            "cannot change nullability — enforce presence with " +
            "ALTER TABLE ... ADD CONSTRAINT ... CHECK (col IS NOT " +
            "NULL) instead")
      case _ => ()
    }
    // ALTER TABLE ... ALTER COLUMN c TYPE t: lossless widening only
    val (retypes, adds) = typesAndAdds2.partition {
      case _: TableChange.UpdateColumnType => true
      case _ => false
    }
    retypes.foreach {
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft-snapshot widens TOP-LEVEL columns only: " +
            s"'${u.fieldNames().mkString(".")}'")
        SnapshotTable.widenColumn(spark, root,
          u.fieldNames().head, u.newDataType())
      case _ => ()
    }
    val columnAdds = adds
    if (columnAdds.isEmpty) return loadTable(ident)
    val added = columnAdds.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft-snapshot adds TOP-LEVEL columns only (a nested-typed " +
            "column is fine; splicing a field into an existing struct " +
            s"is not): '${a.fieldNames().mkString(".")}'")
        val dt = a.dataType()
        require(GraftSnapshotSource.supported(dt),
          s"graft-snapshot does not support ${dt.simpleString} " +
            s"column '${a.fieldNames().head}'")
        val base = StructField(a.fieldNames().head, dt, nullable = true)
        // ADD COLUMNS ... DEFAULT v is an INITIAL default (Iceberg's
        // existence default): the literal rides the manifest schema's
        // field metadata, addColumns stamps the adding version, and
        // BOTH read paths materialize it for pre-evolution files — so
        // accepting it is honest: old rows surface v, not NULL
        Option(a.defaultValue()) match {
          case None => base
          case Some(d) =>
            require(GraftDefaults.supported(dt),
              s"graft DEFAULT supports int/long/float/double/boolean/" +
                s"string columns; '${base.name}' is ${dt.simpleString}")
            val lit = d.getValue
            require(lit != null && lit.value() != null,
              s"graft ADD COLUMNS DEFAULT must be a non-null literal " +
                s"for '${base.name}' (a nullable column already fills " +
                s"NULL when omitted)")
            base.copy(metadata = new org.apache.spark.sql.types
              .MetadataBuilder()
              .putString(SnapshotTable.InitDefaultKey,
                String.valueOf(lit.value())).build())
        }
      case other => throw new UnsupportedOperationException(
        s"graft catalog supports ALTER TABLE ADD COLUMNS / DROP " +
          s"COLUMN only, got ${other.getClass.getSimpleName}")
    }
    SnapshotTable.addColumns(spark, root, StructType(added))
    // the initial default is also the CURRENT default: INSERTs that
    // omit the column fill the same literal (one declaration, both
    // halves of the standard's semantics)
    columnAdds.foreach {
      case a: TableChange.AddColumn if a.defaultValue() != null =>
        SnapshotTable.setProperties(spark, root,
          SnapshotTable.tableProperties(spark, root) ++
            GraftDefaults.encode(a.fieldNames().head, a.defaultValue()))
      case _ => ()
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!isTable(root)) return false
    hfs.delete(new Path(root), true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val oldRoot = rootOf(oldIdent)
    val newRoot = rootOf(newIdent)
    if (!isTable(oldRoot)) throw new NoSuchTableException(oldIdent)
    if (isTable(newRoot)) throw new TableAlreadyExistsException(newIdent)
    hfs.mkdirs(new Path(newRoot).getParent)
    require(hfs.rename(new Path(oldRoot), new Path(newRoot)),
      s"rename $oldRoot -> $newRoot failed")
  }

  // ---- namespaces ----------------------------------------------------

  private def nsPath(namespace: Array[String]): Path =
    new Path((warehouse +: namespace.toSeq.map(safe)).mkString("/"))

  override def listNamespaces(): Array[Array[String]] = {
    val w = new Path(warehouse)
    if (!hfs.exists(w)) return Array.empty
    hfs.listStatus(w).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_")
        && !isTable(st.getPath.toUri.getPath))
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String])
  : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      if (!hfs.exists(nsPath(namespace)))
        throw new NoSuchNamespaceException(
          (catalogName +: namespace).toSeq)
      Array.empty
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || hfs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String])
  : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException((catalogName +: namespace).toSeq)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    hfs.mkdirs(nsPath(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!hfs.exists(p)) return false
    if (!cascade && hfs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    hfs.delete(p, true)
  }
}

/** The maintenance procedures behind `CALL graft.system.<name>(...)`:
  * compaction, snapshot expiry and vacuum — the table-format upkeep
  * the reference leaves to Iceberg's own procedures, re-expressed on
  * the manifest protocol. Each is a driver-side metadata operation
  * (compaction runs one clustered rewrite job) returning a one-row
  * summary through a LocalScan. */
private[connector] object GraftProcedures {

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types._

  val Names = Seq("compact", "expire_snapshots",
    "expire_older_than", "vacuum", "tag", "drop_tag", "clone",
    "create_branch", "fast_forward", "fast_forward_to", "drop_branch",
    "analyze", "analyze_histograms", "refresh_histograms",
    "rollback_to", "rollback_to_timestamp",
    "create_mv", "create_join_mv", "refresh_mv", "mv_status",
    "create_text_index", "search_text",
    "create_vector_index", "search_vectors",
    "search_hybrid", "index_status")

  /** View-table properties persisting an MV definition, so
    * `refresh_mv('db.view')` needs only the view's name — the SQL-first
    * MV contract (Iceberg/Materialize shape): the definition lives WITH
    * the view, not in the caller's code. */
  private val MvKindProp = "graft.mv.kind" // incremental | join
  private val MvSourceProp = "graft.mv.source"
  private val MvKeysProp = "graft.mv.keys"
  private val MvSumsProp = "graft.mv.sums"
  private val MvMinMaxProp = "graft.mv.minmax"
  private val MvDimProp = "graft.mv.dim"
  private val MvFactKeyProp = "graft.mv.fact_key"
  private val MvDimKeyProp = "graft.mv.dim_key"

  private def csv(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Parse a `create_mv` aggregate-spec list into (sums, avgs, ndvs):
    * each comma-separated entry is `col` / `col:sum` (additive sum —
    * the historic form, unchanged), `col:avg` (served exact from the
    * maintained (sum, cnt) pair), or `col:ndv` (approximate
    * count(DISTINCT col) via a mergeable HLL sketch column). EXACT
    * distinct is refused loudly: maintaining it incrementally under
    * deletes means keeping every distinct value per group — the
    * source table again — so the engine will not pretend to. */
  private def aggSpecs(s: String)
  : (Seq[String], Seq[String], Seq[String]) = {
    val parsed = csv(s).map { e =>
      e.split(':').map(_.trim).toSeq match {
        case Seq(c) => (c, "sum")
        case Seq(c, f) => (c, f.toLowerCase)
        case _ => throw new IllegalArgumentException(
          s"create_mv: bad aggregate spec '$e' (use col, col:sum, " +
            "col:avg or col:ndv)")
      }
    }
    parsed.foreach {
      case (_, "sum" | "avg" | "ndv") => ()
      case (c, "distinct" | "count_distinct") =>
        throw new IllegalArgumentException(
          s"create_mv: EXACT count(DISTINCT $c) is not incrementally " +
            "maintainable (a retraction needs every remaining distinct " +
            s"value per group — the source itself); use '$c:ndv' for " +
            "the mergeable HLL approximation, or a full-recompute view")
      case (c, f) => throw new IllegalArgumentException(
        s"create_mv: unknown aggregate '$f' for column '$c' " +
          "(sum, avg, ndv)")
    }
    (parsed.collect { case (c, "sum") => c },
      parsed.collect { case (c, "avg") => c },
      parsed.collect { case (c, "ndv") => c })
  }

  /** Driver-collect bounds for the table-valued retrieval procedures:
    * a DSv2 procedure RETURNS rows (not a scan), so its result is
    * always driver-materialized — both k and the query-table size
    * must stay procedure-sized. Beyond these, the request is a join,
    * not a lookup (the [[SnapshotTable]] MaxBloomProbeKeys line), and
    * belongs in the Scala API, which returns distributed frames. */
  private val MaxProcedureK = 1000
  private val MaxProcedureQueryRows = 1000

  /** A REQUIRED property of a join MV's definition — a view whose
    * `graft.mv.kind` says 'join' but is missing one (partial
    * setProperties, hand-edited metadata) must fail with the same
    * descriptive shape the missing-source case gets, not a bare
    * NoSuchElementException. */
  private def joinProp(p: Map[String, String], key: String,
      view: String): String =
    p.getOrElse(key, throw new IllegalArgumentException(
      s"'$view' declares $MvKindProp=join but is missing its '$key' " +
        "property — the view's MV definition is incomplete " +
        "(recreate it via CALL graft.system.create_join_mv)"))

  /** Reconstruct the MV definition persisted on the view and run one
    * incremental refresh of the right shape. */
  private def refreshMv(spark: SparkSession, cat: GraftCatalog,
      view: String): Long = {
    val viewRoot = cat.resolveRoot(view)
    val p = SnapshotTable.tableProperties(spark, viewRoot)
    val src = p.getOrElse(MvSourceProp, throw new IllegalArgumentException(
      s"'$view' is not a materialized view (no $MvSourceProp property " +
        "— was it created via CALL graft.system.create_mv?)"))
    p.getOrElse(MvKindProp, "incremental") match {
      case "join" =>
        val (jSums, jAvgs, _) =
          aggSpecs(p.getOrElse(MvSumsProp, ""))
        MaterializedView.refreshJoinIncremental(spark,
          MaterializedView.JoinView(
            cat.resolveRoot(src),
            cat.resolveRoot(joinProp(p, MvDimProp, view)), viewRoot,
            factKey = joinProp(p, MvFactKeyProp, view),
            dimKey = joinProp(p, MvDimKeyProp, view),
            keys = csv(p.getOrElse(MvKeysProp, "")),
            sumCols = jSums, avgCols = jAvgs))
      case _ =>
        val (sums, avgs, ndvs) = aggSpecs(p.getOrElse(MvSumsProp, ""))
        MaterializedView.refreshIncremental(spark,
          MaterializedView.IncrementalView(cat.resolveRoot(src), viewRoot,
            keys = csv(p.getOrElse(MvKeysProp, "")),
            sumCols = sums,
            minMaxCols = csv(p.getOrElse(MvMinMaxProp, "")),
            avgCols = avgs, ndvCols = ndvs))
    }
  }

  def load(cat: GraftCatalog, ident: Identifier): UnboundProcedure =
    ident.name().toLowerCase match {
      case "compact" => proc(cat, "compact",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(
          StructField("files_before", LongType, nullable = false),
          StructField("files_after", LongType, nullable = false),
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          val (before, after, v) = SnapshotTable.compact(spark,
            cat0.resolveRoot(in.getString(0)))
          Row(before, after, v)
        })
      case "expire_snapshots" => proc(cat, "expire_snapshots",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep", IntegerType).build()),
        StructType(Seq(
          StructField("expired_versions", LongType, nullable = false))),
        (spark, cat0, in) => {
          val gone = SnapshotTable.expireSnapshots(spark,
            cat0.resolveRoot(in.getString(0)), in.getInt(1))
          Row(gone.size.toLong)
        })
      case "expire_older_than" => proc(cat, "expire_older_than",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("older_than_ms", LongType).build()),
        StructType(Seq(
          StructField("expired_versions", LongType, nullable = false))),
        (spark, cat0, in) => {
          val gone = SnapshotTable.expireSnapshotsOlderThan(spark,
            cat0.resolveRoot(in.getString(0)), in.getLong(1))
          Row(gone.size.toLong)
        })
      case "vacuum" => proc(cat, "vacuum",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("min_age_ms", LongType).build()),
        StructType(Seq(
          StructField("deleted_paths", LongType, nullable = false))),
        (spark, cat0, in) => {
          val gone = SnapshotTable.vacuum(spark,
            cat0.resolveRoot(in.getString(0)), in.getLong(1))
          Row(gone.size.toLong)
        })
      case "tag" => proc(cat, "tag",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          SnapshotTable.tag(spark, cat0.resolveRoot(in.getString(0)),
            in.getString(1), in.getLong(2))
          Row(in.getString(1), in.getLong(2))
        })
      case "clone" => proc(cat, "clone",
        Array(ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("target", StringType).build(),
          // 0 = current version
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("shared_files", LongType, nullable = false))),
        (spark, cat0, in) => {
          val srcRoot = cat0.resolveRoot(in.getString(0))
          val dstRoot = cat0.resolveNewRoot(in.getString(1))
          val v = SnapshotTable.cloneTable(spark, srcRoot, dstRoot,
            Some(in.getLong(2)).filter(_ > 0L))
          Row(v, SnapshotTable.manifest(spark, dstRoot, v)
            .size.toLong)
        })
      case "drop_tag" => proc(cat, "drop_tag",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(
          StructField("dropped", org.apache.spark.sql.types.BooleanType,
            nullable = false))),
        (spark, cat0, in) => {
          Row(SnapshotTable.dropTag(spark,
            cat0.resolveRoot(in.getString(0)), in.getString(1)))
        })
      case "create_branch" => proc(cat, "create_branch",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          // 0 = branch from the current main head
          ProcedureParameter.in("from_version", LongType).build()),
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("base", LongType, nullable = false))),
        (spark, cat0, in) => {
          val base = SnapshotTable.createBranch(spark,
            cat0.resolveRoot(in.getString(0)), in.getString(1),
            Some(in.getLong(2)).filter(_ > 0L))
          Row(in.getString(1), base)
        })
      case "fast_forward" => proc(cat, "fast_forward",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("branch", StringType).build(),
          ProcedureParameter.in("into", StringType).build()),
        StructType(Seq(
          StructField("head", LongType, nullable = false))),
        (spark, cat0, in) => {
          Row(SnapshotTable.fastForward(spark,
            cat0.resolveRoot(in.getString(0)), in.getString(1),
            in.getString(2)))
        })
      case "fast_forward_to" => proc(cat, "fast_forward_to",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("branch", StringType).build(),
          ProcedureParameter.in("up_to", LongType).build(),
          ProcedureParameter.in("into", StringType).build()),
        StructType(Seq(
          StructField("head", LongType, nullable = false))),
        (spark, cat0, in) => {
          Row(SnapshotTable.fastForwardTo(spark,
            cat0.resolveRoot(in.getString(0)), in.getString(1),
            in.getLong(2), in.getString(3)))
        })
      case "analyze" => proc(cat, "analyze",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("columns", LongType, nullable = false),
          // incremental: files actually re-read this invocation
          StructField("files_analyzed", LongType, nullable = false))),
        (spark, cat0, in) => {
          val (v, cols, files) = SnapshotTable.analyze(spark,
            cat0.resolveRoot(in.getString(0)))
          Row(v, cols.size.toLong, files)
        })
      case "analyze_histograms" => proc(cat, "analyze_histograms",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("bins", IntegerType).build()),
        StructType(Seq(
          StructField("columns", LongType, nullable = false))),
        (spark, cat0, in) => {
          Row(SnapshotTable.analyzeHistograms(spark,
            cat0.resolveRoot(in.getString(0)), in.getInt(1))
            .size.toLong)
        })
      case "refresh_histograms" => proc(cat, "refresh_histograms",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(
          StructField("fresh", org.apache.spark.sql.types.BooleanType,
            nullable = false))),
        (spark, cat0, in) => {
          Row(SnapshotTable.refreshHistograms(spark,
            cat0.resolveRoot(in.getString(0))))
        })
      case "rollback_to" => proc(cat, "rollback_to",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          Row(SnapshotTable.rollbackTo(spark,
            cat0.resolveRoot(in.getString(0)), in.getLong(1)))
        })
      case "rollback_to_timestamp" => proc(cat, "rollback_to_timestamp",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("ts_millis", LongType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          Row(SnapshotTable.rollbackToTimestamp(spark,
            cat0.resolveRoot(in.getString(0)), in.getLong(1)))
        })
      // CREATE MATERIALIZED VIEW as a procedure: bootstrap the keyed
      // rollup over `source`, persist the definition as view-table
      // properties (side-file metadata — no extra view version), and
      // register nothing else: the view root under the warehouse IS
      // the catalog table, immediately SELECTable. keys/sums are
      // comma-separated column lists; minmax may be '' for none.
      case "create_mv" => proc(cat, "create_mv",
        Array(ProcedureParameter.in("view", StringType).build(),
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("keys", StringType).build(),
          ProcedureParameter.in("sums", StringType).build(),
          ProcedureParameter.in("minmax", StringType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          val view = in.getString(0)
          val source = in.getString(1)
          val keys = csv(in.getString(2))
          val rawSpecs = in.getString(3)
          // sums accepts aggregate SPECS: col (sum), col:avg, col:ndv
          val (sums, avgs, ndvs) = aggSpecs(rawSpecs)
          val mm = csv(in.getString(4))
          require(keys.nonEmpty, "create_mv: at least one group key")
          require(sums.nonEmpty || avgs.nonEmpty || ndvs.nonEmpty,
            "create_mv: at least one aggregate column")
          val srcRoot = cat0.resolveRoot(source)
          val viewRoot = cat0.resolveNewRoot(view)
          val iv = MaterializedView.IncrementalView(srcRoot, viewRoot,
            keys, sums, mm, avgCols = avgs, ndvCols = ndvs)
          val v = MaterializedView.refreshIncremental(spark, iv)
          SnapshotTable.setProperties(spark, viewRoot,
            SnapshotTable.tableProperties(spark, viewRoot) ++ Map(
              MvKindProp -> "incremental",
              MvSourceProp -> source, MvKeysProp -> keys.mkString(","),
              MvSumsProp -> csv(rawSpecs).mkString(","),
              MvMinMaxProp -> mm.mkString(",")))
          Row(v)
        })
      // CREATE MATERIALIZED VIEW over a fact ⋈ dim equi-join — the
      // bilinear-delta JoinView, SQL-first: bootstrap, persist the
      // definition, refresh later by name.
      case "create_join_mv" => proc(cat, "create_join_mv",
        Array(ProcedureParameter.in("view", StringType).build(),
          ProcedureParameter.in("fact", StringType).build(),
          ProcedureParameter.in("dim", StringType).build(),
          ProcedureParameter.in("fact_key", StringType).build(),
          ProcedureParameter.in("dim_key", StringType).build(),
          ProcedureParameter.in("keys", StringType).build(),
          ProcedureParameter.in("sums", StringType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          val view = in.getString(0)
          val keys = csv(in.getString(5))
          val rawSpecs = in.getString(6)
          // sum/avg specs as create_mv; :ndv is single-table-only
          // (deletes on a JOINED frame have no bounded recompute path
          // — the StarView scaladoc's extrema argument)
          val (sums, avgs, ndvs) = aggSpecs(rawSpecs)
          require(ndvs.isEmpty,
            "create_join_mv: ':ndv' is not maintainable on a join " +
              "view (no bounded delete-recompute path over a joined " +
              "frame); keep HLL-distinct views single-table")
          require(keys.nonEmpty, "create_join_mv: at least one group key")
          require(sums.nonEmpty || avgs.nonEmpty,
            "create_join_mv: at least one aggregate column")
          val viewRoot = cat0.resolveNewRoot(view)
          val jv = MaterializedView.JoinView(
            cat0.resolveRoot(in.getString(1)),
            cat0.resolveRoot(in.getString(2)), viewRoot,
            factKey = in.getString(3), dimKey = in.getString(4),
            keys = keys, sumCols = sums, avgCols = avgs)
          val v = MaterializedView.refreshJoinIncremental(spark, jv)
          SnapshotTable.setProperties(spark, viewRoot,
            SnapshotTable.tableProperties(spark, viewRoot) ++ Map(
              MvKindProp -> "join",
              MvSourceProp -> in.getString(1),
              MvDimProp -> in.getString(2),
              MvFactKeyProp -> in.getString(3),
              MvDimKeyProp -> in.getString(4),
              MvKeysProp -> keys.mkString(","),
              MvSumsProp -> csv(rawSpecs).mkString(",")))
          Row(v)
        })
      // REFRESH MATERIALIZED VIEW: reconstruct the definition from the
      // view's own properties and run the right incremental refresh
      // (delta merge when possible, full recompute on first/expired/
      // conflict — the refresh functions' own contract). No-ops when
      // fresh.
      case "refresh_mv" => proc(cat, "refresh_mv",
        Array(ProcedureParameter.in("view", StringType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          Row(refreshMv(spark, cat0, in.getString(0)))
        })
      // MV observability: kind, source, consumed source version vs its
      // current, and the staleness verdict — the freshness dashboard
      // line as one metadata-only call (listings, zero data IO).
      case "mv_status" => proc(cat, "mv_status",
        Array(ProcedureParameter.in("view", StringType).build()),
        StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("source", StringType, nullable = false),
          StructField("view_version", LongType, nullable = false),
          StructField("consumed_source_version", LongType,
            nullable = false),
          StructField("source_version", LongType, nullable = false),
          StructField("stale", org.apache.spark.sql.types.BooleanType,
            nullable = false))),
        (spark, cat0, in) => {
          val viewRoot = cat0.resolveRoot(in.getString(0))
          val p = SnapshotTable.tableProperties(spark, viewRoot)
          val src = p.getOrElse(MvSourceProp,
            throw new IllegalArgumentException(
              s"'${in.getString(0)}' is not a materialized view"))
          val kind = p.getOrElse(MvKindProp, "incremental")
          // join views consume a VERSION VECTOR (fact first); the
          // reported consumed/source columns are the fact's, staleness
          // covers every source
          val (consumed, srcCur, stale) = kind match {
            case "join" =>
              val last = MaterializedView
                .starRefreshedAgainst(spark, viewRoot, 2)
              val curs = Seq(src,
                joinProp(p, MvDimProp, in.getString(0))).map(t =>
                SnapshotTable.currentVersion(spark, cat0.resolveRoot(t)))
              (last.head, curs.head,
                curs.zip(last).exists { case (c, l) => c > l })
            case _ =>
              val c = MaterializedView.refreshedAgainst(spark, viewRoot)
              val s = SnapshotTable.currentVersion(spark,
                cat0.resolveRoot(src))
              (c, s, s > c)
          }
          Row(kind, src,
            SnapshotTable.currentVersion(spark, viewRoot),
            consumed, srcCur, stale)
        })
      // LEXICAL RETRIEVAL through SQL: build a persisted BM25 inverted
      // index over a catalog table's (doc_id, text) and query it by
      // name — the index root under the warehouse is ALSO a SELECTable
      // postings table. analyzer ∈ {whitespace, simple}.
      case "create_text_index" => proc(cat, "create_text_index",
        Array(ProcedureParameter.in("index", StringType).build(),
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("buckets", IntegerType).build(),
          ProcedureParameter.in("analyzer", StringType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          val srcRoot = cat0.resolveRoot(in.getString(1))
          val idxRoot = cat0.resolveNewRoot(in.getString(0))
          Row(graft.operators.TextIndex.build(spark,
            SnapshotTable.read(spark, srcRoot)
              .select("doc_id", "text"),
            idxRoot, buckets = in.getInt(2),
            analyzer = in.getString(3)))
        })
      // Top-k search over a text index: the query string is tokenized
      // by the INDEX's recorded analyzer; mode ∈ {or, and, phrase}
      // (bag-of-words BM25 / all-terms conjunction / exact consecutive
      // phrase). Returns the ranked (doc_id, score) rows directly —
      // top-k is procedure-sized by construction.
      case "search_text" => procMulti(cat, "search_text",
        Array(ProcedureParameter.in("index", StringType).build(),
          ProcedureParameter.in("query", StringType).build(),
          ProcedureParameter.in("k", IntegerType).build(),
          ProcedureParameter.in("mode", StringType).build()),
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("score", org.apache.spark.sql.types.DoubleType,
            nullable = false))),
        (spark, cat0, in) => {
          import graft.operators.TextIndex
          val root = cat0.resolveRoot(in.getString(0))
          val terms = TextIndex.analyzeQuery(spark, root,
            in.getString(1))
          val k = in.getInt(2)
          require(k <= MaxProcedureK,
            s"search_text collects its top-k to the driver; " +
              s"k=$k exceeds the procedure bound $MaxProcedureK — " +
              "corpus-sized retrieval stays in the Scala API " +
              "(TextIndex.searchBm25 returns a DataFrame)")
          val res = in.getString(3).toLowerCase match {
            case "and" => TextIndex.searchAnd(spark, root, terms, k)
            case "phrase" => TextIndex.searchPhrase(spark, root,
              terms, k)
            case "or" => TextIndex.searchBm25(spark, root, terms, k)
            case other => throw new IllegalArgumentException(
              s"unknown search mode '$other' (or, and, phrase)")
          }
          res.collect().toSeq
        })
      // ANN RETRIEVAL through SQL: build the persisted IVF index over
      // a catalog table's (vec_id, embedding) — the cell-partitioned
      // assignments are themselves a SELECTable table — and probe it
      // with a query TABLE's (q_id, embedding) rows. The output is
      // |queries|×k rows, so callers keep the query table
      // procedure-sized (the same contract every top-k surface here
      // has); corpus-sized scoring stays in the Scala API.
      case "create_vector_index" => proc(cat, "create_vector_index",
        Array(ProcedureParameter.in("index", StringType).build(),
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("nlist", IntegerType).build(),
          // '' = raw vectors; 'sq8' = 1 B/dim scalar-quantized cells
          // (8x smaller index; probes score by fused ADC and re-rank
          // exactly from the bloomed raw sidecar)
          ProcedureParameter.in("codec", StringType)
            .defaultValue("''").build()),
        StructType(Seq(
          StructField("version", LongType, nullable = false))),
        (spark, cat0, in) => {
          val srcRoot = cat0.resolveRoot(in.getString(1))
          val idxRoot = cat0.resolveNewRoot(in.getString(0))
          val codec = Option(in.getString(3)).filter(_.nonEmpty)
          Row(graft.operators.VectorIndex.build(spark,
            SnapshotTable.read(spark, srcRoot)
              .select("vec_id", "embedding"),
            idxRoot, nlist = in.getInt(2), codec = codec))
        })
      case "search_vectors" => procMulti(cat, "search_vectors",
        Array(ProcedureParameter.in("index", StringType).build(),
          ProcedureParameter.in("queries", StringType).build(),
          ProcedureParameter.in("k", IntegerType).build(),
          ProcedureParameter.in("nprobe", IntegerType).build()),
        StructType(Seq(
          StructField("q_id", LongType, nullable = false),
          StructField("rk", IntegerType, nullable = false),
          StructField("c_id", LongType, nullable = false),
          StructField("cos_r", org.apache.spark.sql.types.DoubleType,
            nullable = false))),
        (spark, cat0, in) => {
          val k = in.getInt(2)
          require(k <= MaxProcedureK,
            s"search_vectors collects |queries|×k rows to the driver; " +
              s"k=$k exceeds the procedure bound $MaxProcedureK — " +
              "corpus-sized scoring stays in the Scala API " +
              "(VectorIndex.search returns a DataFrame)")
          val qdf = SnapshotTable
            .read(spark, cat0.resolveRoot(in.getString(1)))
            .select("q_id", "embedding")
          // the MaxBloomProbeKeys discipline (SnapshotTable.readKeys):
          // count capped — one limit(cap+1) job, never a full count —
          // and refuse LOUDLY beyond, instead of letting a caller
          // point the procedure at a corpus-sized table and drive an
          // unbounded driver collect
          val probe = qdf.limit(MaxProcedureQueryRows + 1).count()
          require(probe <= MaxProcedureQueryRows,
            s"search_vectors collects |queries|×k rows to the driver; " +
              s"queries table '${in.getString(1)}' holds more than " +
              s"$MaxProcedureQueryRows rows — keep the query table " +
              "procedure-sized, or use VectorIndex.search (returns a " +
              "distributed DataFrame)")
          graft.operators.VectorIndex.search(spark,
            cat0.resolveRoot(in.getString(0)), qdf,
            k = k, nprobe = in.getInt(3))
            .collect().toSeq
        })
      // HYBRID RETRIEVAL through SQL: the BM25 text-index leg and the
      // IVF vector-index leg, fused by reciprocal-rank (RRF, k=60) —
      // the standard RAG serving shape as one CALL. The query string
      // tokenizes with the text index's recorded analyzer; the query
      // EMBEDDING comes from a 1-row queries table (q_id, embedding).
      // Fusion runs driver-side over the two <= k ranked lists —
      // procedure-sized by construction.
      case "search_hybrid" => procMulti(cat, "search_hybrid",
        Array(ProcedureParameter.in("text_index", StringType).build(),
          ProcedureParameter.in("vector_index", StringType).build(),
          ProcedureParameter.in("query", StringType).build(),
          ProcedureParameter.in("queries", StringType).build(),
          ProcedureParameter.in("k", IntegerType).build(),
          ProcedureParameter.in("nprobe", IntegerType).build()),
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("rrf", org.apache.spark.sql.types.DoubleType,
            nullable = false),
          StructField("lex_rk", IntegerType, nullable = true),
          StructField("sem_rk", IntegerType, nullable = true))),
        (spark, cat0, in) => {
          import graft.operators.{TextIndex, VectorIndex}
          val k = in.getInt(4)
          require(k <= MaxProcedureK,
            s"search_hybrid fuses two driver-side top-k lists; k=$k " +
              s"exceeds the procedure bound $MaxProcedureK")
          val tRoot = cat0.resolveRoot(in.getString(0))
          val vRoot = cat0.resolveRoot(in.getString(1))
          val qdf = SnapshotTable
            .read(spark, cat0.resolveRoot(in.getString(3)))
            .select("q_id", "embedding")
          require(qdf.limit(2).count() == 1L,
            s"search_hybrid expects a 1-row queries table (one query " +
              s"embedding); '${in.getString(3)}' has another shape")
          val terms = TextIndex.analyzeQuery(spark, tRoot,
            in.getString(2))
          val lex = TextIndex.searchBm25(spark, tRoot, terms, k)
            .collect().zipWithIndex
            .map { case (r, i) => r.getLong(0) -> (i + 1) }.toMap
          val sem = VectorIndex.search(spark, vRoot, qdf, k,
            nprobe = in.getInt(5))
            .collect().map(r => r.getLong(2) -> r.getInt(1)).toMap
          (lex.keySet ++ sem.keySet).toSeq.map { id =>
            val rrf = lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
              sem.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
            (id, BigDecimal(rrf).setScale(9,
              BigDecimal.RoundingMode.HALF_UP).toDouble)
          }.sortBy { case (id, rrf) => (-rrf, id) }
            .map { case (id, rrf) =>
              Row(id, rrf,
                lex.get(id).map(Int.box).orNull,
                sem.get(id).map(Int.box).orNull)
            }
        })
      // Index observability: one metadata-only row per persisted
      // retrieval index — kind, version, analyzer/codec, layout,
      // accumulated tombstones (manifest row counts) and the claimed
      // maintenance mode. The freshness dashboard line for the
      // retrieval layer, zero data IO (the mv_status twin).
      case "index_status" => proc(cat, "index_status",
        Array(ProcedureParameter.in("index", StringType).build()),
        StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("version", LongType, nullable = false),
          StructField("analyzer_or_codec", StringType, nullable = false),
          StructField("layout", StringType, nullable = false),
          StructField("dels", LongType, nullable = false),
          StructField("maintenance", StringType, nullable = false))),
        (spark, cat0, in) => {
          val root = cat0.resolveRoot(in.getString(0))
          val p = SnapshotTable.tableProperties(spark, root)
          val st =
            if (p.contains(graft.operators.TextIndex.AnalyzerProp))
              graft.operators.TextIndex.status(spark, root)
            else if (p.contains("graft.vectorindex.nlist"))
              graft.operators.VectorIndex.status(spark, root)
            else throw new IllegalArgumentException(
              s"'${in.getString(0)}' is not a graft retrieval index " +
                "(no analyzer / nlist property — was it created via " +
                "CALL create_text_index / create_vector_index?)")
          Row(st("kind"), st("version").toLong,
            st("analyzer_or_codec"), st("layout"), st("dels").toLong,
            st("maintenance"))
        })
      case "drop_branch" => proc(cat, "drop_branch",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(
          StructField("dropped", org.apache.spark.sql.types.BooleanType,
            nullable = false))),
        (spark, cat0, in) => {
          Row(SnapshotTable.dropBranch(spark,
            cat0.resolveRoot(in.getString(0)), in.getString(1)))
        })
      case other => throw new UnsupportedOperationException(
        s"no such graft procedure '$other' " +
          s"(available: ${Names.mkString(", ")})")
    }

  private def proc(cat: GraftCatalog, procName: String,
      params: Array[ProcedureParameter], outSchema: StructType,
      body: (SparkSession, GraftCatalog, InternalRow) => Row)
  : UnboundProcedure =
    procMulti(cat, procName, params, outSchema,
      (spark, cat0, in) => Seq(body(spark, cat0, in)))

  private def procMulti(cat: GraftCatalog, procName: String,
      params: Array[ProcedureParameter], outSchema: StructType,
      body: (SparkSession, GraftCatalog, InternalRow) => Seq[Row])
  : UnboundProcedure = new UnboundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft $procName"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft $procName"
        override def parameters(): Array[ProcedureParameter] = params
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow)
        : java.util.Iterator[Scan] = {
          val spark = SparkSession.active
          val out = body(spark, cat, input)
          // name must differ from LocalScan.rows — `= rows` inside the
          // anonymous class would resolve to the member and self-recur
          val resultRows = {
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(out.asJava, outSchema)
              .queryExecution.executedPlan.executeCollect()
          }
          java.util.List.of[Scan](new LocalScan {
            override def readSchema(): StructType = outSchema
            override def rows(): Array[InternalRow] = resultRows
            override def description(): String = s"graft-proc($procName)"
          }).iterator()
        }
      }
  }
}

/** A read-only metadata table over a snapshot root, computed
  * driver-side (metadata only — the manifest, commit log and
  * properties are all driver-scale) and served through a V2
  * [[org.apache.spark.sql.connector.read.LocalScan]].
  *
  * `pinned` is a `VERSION AS OF` pin: `files` then lists THAT
  * version's manifest and `history` the log as it stood at that
  * commit — inspection of what an old snapshot was made of, the same
  * contract as time-traveling the data. `properties` is a side file
  * outside the commit log (properties changes don't mint versions),
  * so a pin doesn't rewind it — pinning it is refused rather than
  * answered wrong. */
private[connector] class GraftMetadataTable(fullName: String,
    kind: String, root: String, pinned: Option[Long] = None)
  extends Table with SupportsRead {

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
  import org.apache.spark.sql.types._

  private def spark = SparkSession.active

  override def name(): String = fullName

  locally {
    require(pinned.isEmpty ||
      (kind != "properties" && kind != "refs"),
      s"table $kind are a side file outside the commit log — " +
        "they have no historical versions to pin (query them unpinned)")
  }

  override def schema(): StructType = kind match {
    case "history" => SnapshotTable.history(spark, root).schema
    case "files" => GraftMetadataTable.FilesSchema
    case "properties" => GraftMetadataTable.PropsSchema
    case "refs" => GraftMetadataTable.RefsSchema
    case "stats" => GraftMetadataTable.StatsSchema
    case "manifests" => GraftMetadataTable.ManifestsSchema
    case "partitions" => GraftMetadataTable.PartitionsSchema
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new LocalScan {
      override def readSchema(): StructType = schema()
      override def description(): String = s"graft-metadata($kind)"
      override def rows(): Array[InternalRow] = kind match {
        case "history" =>
          val h = SnapshotTable.history(spark, root)
          pinned.fold(h)(v => h.filter(h("version") <= v))
            .queryExecution.executedPlan.executeCollect()
        case "files" =>
          val s = spark
          val v = pinned
            .getOrElse(SnapshotTable.currentVersion(s, root))
          val f = SnapshotTable.fs(s, root)
          val data = SnapshotTable.manifest(s, root, v).map { e =>
            val bytes = SnapshotTable.entryBytes(f, root, e)
            Row(e.path, e.kind, e.seq, e.rows.map(Long.box).orNull,
              bytes,
              e.statsKey.orNull, e.lo.orNull, e.hi.orNull,
              e.statsFor("__bucket").map(_._1).orNull,
              if (e.ndv.isEmpty) null
              else e.ndv.map { case (c, sk) =>
                c -> graft.functions.Hll.estimate(sk) }.toMap)
          }
          localRows(data, GraftMetadataTable.FilesSchema)
        case "stats" =>
          val s = spark
          val v = pinned
            .getOrElse(SnapshotTable.currentVersion(s, root))
          val entries = SnapshotTable.manifest(s, root, v)
          val nData = entries.count(_.kind == "d").toLong
          val nTombs = entries.count(_.kind == "t").toLong
          val data = SnapshotTable.statsSummary(entries,
            GraftSnapshotSource.schemaOf(s, root, v)).map {
            case (c, ndv, nulls, mn, mx, sk) =>
              // live tombstones make every value-based number an
              // upper bound over the LIVE rows — flag it
              val stale = nTombs > 0 &&
                (ndv.isDefined || nulls.isDefined || mn.isDefined)
              Row(c, ndv.map(Long.box).orNull,
                nulls.map(Long.box).orNull,
                mn.orNull, mx.orNull, sk, nData, nTombs, stale)
          }
          localRows(data, GraftMetadataTable.StatsSchema)
        case "properties" =>
          val data = SnapshotTable.tableProperties(spark, root)
            .toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
          localRows(data, GraftMetadataTable.PropsSchema)
        case "refs" =>
          val tagRows = SnapshotTable.tags(spark, root)
            .toSeq.sortBy(_._1)
            .map { case (n, v) => Row(n, v, "tag", null) }
          val branchRows = SnapshotTable.branches(spark, root)
            .map(b => Row(b,
              SnapshotTable.branchHead(spark, root, b), "branch",
              Long.box(SnapshotTable.branchBase(spark, root, b))))
          localRows(tagRows ++ branchRows, GraftMetadataTable.RefsSchema)
        case "manifests" =>
          val rows = SnapshotTable.manifestInfo(spark, root)
            .filter { case (v, _, _, _, _) => pinned.forall(v <= _) }
            .map { case (v, form, base, depth, bytes) =>
              Row(v, form, base.map(Long.box).orNull, depth, bytes) }
          localRows(rows, GraftMetadataTable.ManifestsSchema)
        case "partitions" =>
          // one row per partition tuple of the CURRENT spec, computed
          // from each file's OWN recorded purity facts (never the
          // declaration) — a zero-IO answer to "how is this table laid
          // out", the first question any 100 TB maintenance job asks.
          // Files not pure on the full current tuple (pre-evolution
          // eras, unpartitioned appends) aggregate under partition =
          // NULL; physical footer row counts over-count live rows
          // while merge-on-read tombstones exist, so `stale` flags it
          // (the same honesty contract as `t.stats`).
          val s = spark
          val v = pinned
            .getOrElse(SnapshotTable.currentVersion(s, root))
          val keys = SnapshotTable.partitionKeysOf(
            SnapshotTable.tableProperties(s, root))
          val entries = SnapshotTable.manifest(s, root, v)
          val (tombs, data) = entries.partition(_.kind == "t")
          val f = SnapshotTable.fs(s, root)
          val stale = tombs.nonEmpty
          val rows = data.groupBy { e =>
            if (keys.isEmpty) None
            else {
              val vs = keys.map(k => GraftScan.pureValueOf(e, k))
              if (vs.forall(_.isDefined))
                Some(keys.zip(vs.map(_.get)))
              else None
            }
          }.toSeq.map { case (part, fs) =>
            val rowSum =
              if (fs.forall(_.rows.isDefined))
                Long.box(fs.map(_.rows.get).sum)
              else null
            val bytes = fs.map(SnapshotTable.entryBytes(f, root, _)).sum
            Row(part.map(_.toMap).orNull, fs.size.toLong, rowSum,
              bytes, stale)
          }.sortBy(r => Option(r.get(0))
            .map(_.asInstanceOf[Map[String, String]]
              .toSeq.sorted.mkString(""))
            .getOrElse("￿"))
          localRows(rows, GraftMetadataTable.PartitionsSchema)
      }
    }
  }

  private def localRows(data: Seq[Row],
      schema: StructType): Array[InternalRow] = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(data.asJava, schema)
      .queryExecution.executedPlan.executeCollect()
  }
}

private[connector] object GraftMetadataTable {
  import org.apache.spark.sql.types._

  val Kinds = Set("history", "files", "properties", "refs", "stats",
    "manifests", "partitions")

  /** Manifest-chain observability: full-vs-delta form, the base a
    * delta resolves through, chain depth, on-disk size — how an
    * operator checks metadata stays O(batch) per commit. */
  val ManifestsSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("form", StringType, nullable = false),
    StructField("base", LongType, nullable = true),
    StructField("depth", IntegerType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  /** Per-partition physical layout of the CURRENT spec: `partition`
    * maps key → rendered pure value (NULL = files not pure on the
    * full tuple — older eras after spec evolution, or the whole
    * table when unpartitioned); `rows` are footer counts (NULL when
    * a legacy file predates row recording), an upper bound on live
    * rows whenever `stale` (live merge-on-read tombstones) is set. */
  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition",
      MapType(StringType, StringType, valueContainsNull = false),
      nullable = true),
    StructField("files", LongType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("bytes", LongType, nullable = false),
    StructField("stale", BooleanType, nullable = false)))

  val FilesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("bytes", LongType, nullable = false),
    StructField("stats_key", StringType, nullable = true),
    StructField("min", StringType, nullable = true),
    StructField("max", StringType, nullable = true),
    StructField("bucket", StringType, nullable = true),
    // per-file NDV estimates from the manifest's HLL sketches
    // (column -> distinct count); NULL when the file carries none
    StructField("ndv", MapType(StringType, LongType), nullable = true)))

  val PropsSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  val RefsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("base", LongType, nullable = true)))

  // `t.stats`: one row per table column — the merged CBO inputs
  // (NDV / nulls / range) plus the staleness signal (sketched vs
  // total files; re-run CALL analyze when it trails)
  val StatsSchema: StructType = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("ndv", LongType, nullable = true),
    StructField("null_count", LongType, nullable = true),
    StructField("min", StringType, nullable = true),
    StructField("max", StringType, nullable = true),
    StructField("sketched_files", LongType, nullable = false),
    StructField("data_files", LongType, nullable = false),
    // merge-on-read staleness: value-based stats (NDV, null counts,
    // ranges) describe the DATA FILES and cannot see tombstone
    // deletes — with live tombstones they are sound UPPER bounds
    // (deletes only remove values), exact again after compaction.
    // `stale` flags exactly the rows whose numbers carry that caveat.
    StructField("live_tombstones", LongType, nullable = false),
    StructField("stale", BooleanType, nullable = false)))
}

/** Column DEFAULT persistence. A default is two table properties:
  * `graft.default.<col>` — the CURRENT-default SQL text (what an
  * INSERT that omits the column evaluates), and
  * `graft.defaultlit.<col>` — the evaluated literal, typed (datatype
  * json + value, both b64). [[GraftSnapshotTable.columns]] rebuilds
  * the V2 `ColumnDefaultValue` from these so Spark's own INSERT
  * resolution fills omitted columns; the connector never evaluates
  * anything at write time. Scope is deliberately literal/foldable
  * scalars of the simple types — a non-deterministic default
  * (current_timestamp) would make INSERT results
  * environment-dependent, which the oracle contract forbids. */
private[connector] object GraftDefaults {
  import org.apache.spark.sql.connector.catalog.ColumnDefaultValue
  import org.apache.spark.sql.connector.expressions.LiteralValue
  import org.apache.spark.sql.types._

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | FloatType |
         BooleanType | StringType => true
    case _ => false
  }

  /** Properties for one column's default, from the analyzer-provided
    * `ColumnDefaultValue` (CREATE TABLE path — the literal is already
    * evaluated and typed). */
  def encode(col: String, d: ColumnDefaultValue): Map[String, String] = {
    val lit = d.getValue
    require(lit != null && supported(lit.dataType()),
      s"graft DEFAULT supports int/long/float/double/boolean/string " +
        s"literals; column '$col' declares: $d")
    // DEFAULT NULL is indistinguishable from "no default" at read/write
    // time but would store the STRING "null" (String.valueOf(null)) and
    // brick decode for numeric columns. Refuse it up front.
    require(lit.value() != null,
      s"graft DEFAULT NULL on '$col' is not supported — a nullable " +
        s"column already fills NULL when omitted; use DROP DEFAULT to " +
        s"clear an existing default")
    val sql = Option(d.getSql).getOrElse(String.valueOf(lit.value()))
    Map(s"graft.default.$col" -> sql,
      s"graft.defaultlit.$col" ->
        s"${b64(lit.dataType().json)}:${b64(String.valueOf(lit.value()))}")
  }

  /** Properties from raw SQL (ALTER ... SET DEFAULT path, where Spark
    * hands only the text): parse, require foldable, evaluate, cast to
    * the column's type. */
  def encodeSql(col: String, sql: String,
      colDt: DataType): Map[String, String] = {
    require(supported(colDt),
      s"graft DEFAULT: unsupported column type ${colDt.simpleString}")
    val parsed = try org.apache.spark.sql.catalyst.parser
      .CatalystSqlParser.parseExpression(sql)
    catch { case e: Exception => throw new IllegalArgumentException(
      s"cannot parse DEFAULT for '$col': $sql", e) }
    val lit = try {
      require(parsed.foldable)
      org.apache.spark.sql.catalyst.expressions.Cast(parsed, colDt)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    } catch { case _: Exception =>
      throw new IllegalArgumentException(
        s"graft DEFAULT for '$col' must be a foldable literal " +
          s"castable to ${colDt.simpleString}, got: $sql")
    }
    // SET DEFAULT NULL (or any literal that casts to null) would store
    // the string "null" and poison every subsequent loadTable for
    // numeric columns. Refuse with the remedy.
    if (lit == null) throw new IllegalArgumentException(
      s"graft DEFAULT for '$col' evaluates to NULL — a nullable column " +
        s"already fills NULL when omitted; use ALTER TABLE ... ALTER " +
        s"COLUMN $col DROP DEFAULT to clear an existing default")
    Map(s"graft.default.$col" -> sql,
      s"graft.defaultlit.$col" ->
        s"${b64(colDt.json)}:${b64(String.valueOf(lit))}")
  }

  def decode(props: Map[String, String],
      col: String): Option[ColumnDefaultValue] =
    for {
      sql <- props.get(s"graft.default.$col")
      ls <- props.get(s"graft.defaultlit.$col")
    } yield {
      // limit -1 keeps a trailing empty component: DEFAULT '' stores
      // an empty b64 value and must round-trip to "", not MatchError.
      val Array(dtb, vb) = ls.split(":", -1)
      val dt = DataType.fromJson(unb64(dtb))
      val raw = unb64(vb)
      val v: Any = dt match {
        case IntegerType => raw.toInt
        case LongType => raw.toLong
        case DoubleType => raw.toDouble
        case FloatType => raw.toFloat
        case BooleanType => raw.toBoolean
        case StringType =>
          org.apache.spark.unsafe.types.UTF8String.fromString(raw)
        case other => throw new IllegalStateException(
          s"corrupt default literal type for '$col': $other")
      }
      // Expressions.literal is the public literal factory (the
      // LiteralValue case class itself is private[sql]); it re-infers
      // the DataType from the JVM value, which round-trips exactly
      // for the supported primitive set
      new ColumnDefaultValue(sql,
        org.apache.spark.sql.connector.expressions.Expressions
          .literal(v))
    }

  def keysFor(col: String): Seq[String] =
    Seq(s"graft.default.$col", s"graft.defaultlit.$col")
}

/** The incremental-scan (changelog) SQL surface — Iceberg's
  * changelog-table idea on the manifest protocol, as two derived
  * tables served by the SAME distributed connector scan as the data
  * (pushdown, stats pruning, vectorized read — NOT a driver-side
  * LocalScan; change sets are data-scale):
  *
  * {{{
  *   SELECT * FROM graft.db.t.changes                      -- of current
  *   SELECT * FROM graft.db.t.changes VERSION AS OF 5      -- of commit 5
  *   SELECT * FROM graft.db.t.delete_keys VERSION AS OF 5
  * }}}
  *
  * `changes` = the rows commit v ADDED, still live at v: exactly the
  * data files stamped seq=v (a tombstone kills strictly-older seqs
  * only, so nothing in manifest v can kill them). `delete_keys` = the
  * keys whose older rows commit v deleted: the tombstone files
  * stamped seq=v, read as ordinary key-column data. Both are
  * O(commit delta) by construction — the batch-SQL twin of the
  * connector's accretive micro-batch stream.
  *
  * Sound only for ACCRETIVE commits (append / merge-on-read — every
  * prior file carried): a compaction/COW/replace commit rewrites
  * files, where "added file" ≠ "added row", so resolution REFUSES it
  * and points at [[SnapshotTable.diff]], which computes the exact
  * row-level diff for any pair of versions. */
private[connector] class GraftChangesTable(fullName: String,
    kind: String, root: String, pinned: Option[Long])
  extends Table with SupportsRead {

  import org.apache.spark.sql.connector.read.ScanBuilder

  private def spark = SparkSession.active
  private val v: Long =
    pinned.getOrElse(SnapshotTable.currentVersion(spark, root))

  locally {
    require(v >= 1L, s"no committed version at $root")
    if (v > 1L) {
      // the check needs the predecessor's manifest; a retention-gapped
      // history (v survives, v-1 expired) cannot be verified, so it
      // refuses with the remedy rather than failing on a raw read
      require(SnapshotTable.versions(spark, root).contains(v - 1L),
        s"version ${v - 1} at $root has been expired — cannot verify " +
          s"commit $v is accretive; read the pinned snapshot itself " +
          "(VERSION AS OF) or use SnapshotTable.diff against a " +
          "surviving version")
      val prev = SnapshotTable.manifest(spark, root, v - 1)
        .map(_.path).toSet
      val removed = prev --
        SnapshotTable.manifest(spark, root, v).map(_.path).toSet
      require(removed.isEmpty,
        s"commit $v at $root is not accretive (${removed.size} files " +
          "rewritten or removed by compaction / copy-on-write merge / " +
          "replace) — a file-delta changelog cannot represent it; use " +
          "SnapshotTable.diff(from,to) for the exact row diff")
    }
  }

  /** delete_keys' key column: named by the commit's own tombstones,
    * else the table's declared merge key (empty result, right
    * schema). */
  private lazy val keyField: StructField = {
    val tableSchema = GraftSnapshotSource.schemaOf(spark, root, v)
    val name = SnapshotTable.manifest(spark, root, v)
      .collectFirst { case e if e.kind == "t" && e.seq == v =>
        e.statsKey }.flatten
      .orElse(SnapshotTable.tableProperties(spark, root)
        .get("write.merge.key"))
      .getOrElse(throw new IllegalArgumentException(
        s"delete_keys at $root: commit $v added no tombstones and " +
          "the table declares no write.merge.key — no key column"))
    tableSchema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalStateException(
        s"tombstone key '$name' is not a column of $root"))
  }

  override def name(): String = s"$fullName(v$v)"

  override def schema(): StructType = kind match {
    case "changes" => GraftSnapshotSource.schemaOf(spark, root, v)
    case "delete_keys" => StructType(Seq(keyField.copy(nullable = false)))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = kind match {
    case "changes" =>
      new GraftScanBuilder(spark, root, v, schema(),
        entryView = _.filter(e => e.kind == "d" && e.seq == v))
    case "delete_keys" =>
      new GraftScanBuilder(spark, root, v, schema(),
        entryView = _.collect {
          case e if e.kind == "t" && e.seq == v => e.copy(kind = "d")
        })
  }
}

private[connector] object GraftChangesTable {
  val Kinds = Set("changes", "delete_keys")
}

/** `bucket(n, col)` = `pmod(murmur3_hash(col), n)` — Spark's own
  * murmur3 (seed 42), so the value computed here is identical to the
  * `pmod(hash(col), n)` the write side laid the files out with. The
  * canonical name is what SPJ compares across the two join sides. */
object GraftBucketFunction extends org.apache.spark.sql.connector
  .catalog.functions.UnboundFunction {

  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(n, col): pmod(murmur3(col), n) — the snapshot bucket " +
      "layout (a composite layout is a GRID of these, one per key)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, key), got ${inputType.simpleString}" +
        " — composite layouts report one single-key transform per " +
        "column (Spark's SPJ validator accepts nothing wider)")
    val keyType = inputType.fields(1).dataType
    keyType match {
      case IntegerType | LongType | StringType | DateType =>
      case other => throw new UnsupportedOperationException(
        s"graft bucket does not support ${other.simpleString} keys")
    }
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: org.apache.spark.sql.catalyst
          .InternalRow): Integer = {
        val n = input.getInt(0)
        val v: Any = keyType match {
          case IntegerType | DateType => input.getInt(1)
          case LongType => input.getLong(1)
          case StringType => input.getUTF8String(1)
        }
        val h = org.apache.spark.sql.catalyst.expressions
          .Murmur3HashFunction.hash(v, keyType, 42L).toInt
        ((h % n) + n) % n
      }
    }
  }
}
