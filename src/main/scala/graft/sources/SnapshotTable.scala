package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.Bloom
import org.apache.spark.sql.functions.{col, expr, hash, lit, pmod, max => smax, min => smin}
import org.apache.spark.sql.types._

/** Versioned snapshot table over plain Parquet — the engine's answer to
  * the reference's Iceberg usage (`streaming-service/api.py:205-241`:
  * snapshot isolation, atomic commit, time travel, and since round 7 the
  * part the reference's TBLPROPERTIES actually buy —
  * `write.delete.mode=merge-on-read`-class IO: commits that do NOT
  * rewrite the table), re-expressed with nothing but a filesystem that
  * has atomic exclusive-create.
  *
  * Layout (round 7: a version is a MANIFEST, not a directory copy):
  * {{{
  *   <root>/_data/seg-<uuid>/part-*.parquet   immutable data segments
  *   <root>/_manifests/1                      manifest: the FILES of v1
  *   <root>/_commits/1                        commit record: its
  *   <root>/_commits/1.claim                  EXISTENCE is the commit
  * }}}
  * A manifest is a tiny text file listing the data files of that
  * version (with optional per-file min/max stats of one cluster key).
  * Data files are written once and never moved or modified; versions
  * SHARE them. The consequences are exactly the ones a table format is
  * for:
  *  - an append commit adds files — no existing file is read, copied
  *    or touched (spec-asserted on path+mtime identity);
  *  - MERGE rewrites only the files whose key range intersects the
  *    update keys (manifest stats pruning) — the rest carry over by
  *    reference;
  *  - `diff` of two versions reads only the files ADDED/REMOVED
  *    between them, O(delta) for append-only history, never O(table);
  *  - time travel is reading an old manifest's files, which are still
  *    exactly the bytes they were.
  *
  * Commit protocol (per committer):
  *  1. stage a new segment `_data/seg-<uuid>` — invisible to everyone
  *     (no manifest references it).
  *  2. claim a version: N = max(claimed, committed, manifested) + 1;
  *     EXCLUSIVE-create `_commits/N.claim`. The primitive is O_EXCL
  *     (`Files.createFile`) on local filesystems and namenode-atomic
  *     `create(overwrite=false)` on HDFS — exactly one racing committer
  *     wins N; the loser re-reads and goes again (bounded retries).
  *     Renames CANNOT arbitrate here: POSIX rename(2) silently replaces
  *     an existing destination file, and renaming a directory onto an
  *     existing directory can move it inside (the FileSystem contract) —
  *     both make every racer think it won. (Both were observed as test
  *     flakes before the claim moved to exclusive-create.)
  *  3. write `_manifests/N` — uncontended by construction (only the
  *     claim holder ever targets N). From this moment the segment is
  *     visible to vacuum as referenced.
  *  4. verify every referenced file still exists (a paused committer
  *     may have had its staging reaped), then publish: create
  *     `_commits/N`. The commit log is append-only, one immutable file
  *     per version — there is NO shared mutable pointer, so no
  *     interleaving of writers can lose an update.
  *
  * Why this shape scales / is safe:
  *  - Segments are immutable: a commit never touches data a reader
  *    might be scanning. A reader that resolved version N keeps
  *    scanning N's files regardless of later commits — snapshot
  *    isolation by immutability, no locks.
  *  - A crash between claim and publish leaves an orphan claim (and
  *    possibly a manifest/segment) with no commit record: invisible to
  *    readers, skipped (not resurrected) by later committers,
  *    reclaimable by `vacuum`.
  *  - All protocol steps are O(1)-ish metadata ops (tiny file listings
  *    and creates); data volume only affects step 1's parquet write —
  *    and step 1 writes the DELTA, not the table.
  *  - Requires atomic exclusive create (POSIX, HDFS). Object stores
  *    without it need a real catalog CAS — that is exactly the piece
  *    Iceberg's catalog adds, documented here as the limit rather than
  *    hidden.
  */
object SnapshotTable {

  /** `committed = true` marks the POST-COMMIT failure mode: the
    * version IS in the global log but linking it onto its branch
    * failed. Retry loops MUST rethrow these instead of re-staging —
    * re-submitting the same batch would double-apply it once the
    * wedged branch heals (the message tells the operator exactly
    * that; the code has to obey it too). */
  final case class CommitConflict(msg: String,
      committed: Boolean = false) extends RuntimeException(msg)

  /** One file of a snapshot. `path` is relative to the table root.
    * When the segment was written clustered on a key, `statsKey` names
    * it and `lo`/`hi` hold the file's min/max rendered as strings (cast
    * back to the column's type before any comparison — string order is
    * never used).
    *
    * `kind` is `"d"` (data) or `"t"` (key tombstone — a parquet file
    * of keys whose OLDER rows are deleted, the merge-on-read delete
    * vector). `seq` is the version that added the file: a tombstone
    * kills exactly the data rows whose file has a SMALLER seq, so a
    * merge-on-read commit's own replacement rows (same seq) survive
    * while every older copy dies — Iceberg's sequence-number rule. */
  final case class FileEntry(path: String, statsKey: Option[String],
      lo: Option[String], hi: Option[String],
      kind: String = "d", seq: Long = 0L,
      bloomKey: Option[String] = None,
      bloom: Option[Array[Byte]] = None,
      statsKey2: Option[String] = None,
      lo2: Option[String] = None, hi2: Option[String] = None,
      rows: Option[Long] = None,
      statsNulls: Option[Long] = None,
      extraStats: Seq[(String, String, String)] = Nil,
      // per-column HLL register arrays (fixed NdvPrecision) for this
      // file — MERGEABLE, so any pruned subset of files still yields
      // an NDV estimate at plan time (the CBO column-stats feed)
      ndv: Seq[(String, Array[Byte])] = Nil,
      // per-column NULL counts (analyze records them alongside the
      // sketches) — join estimation refuses keys without null counts,
      // so NDV alone cannot reorder a join
      colNulls: Seq[(String, Long)] = Nil,
      // file length in bytes, stamped at commit time (the writer just
      // wrote the file — one local status call). Plan-time consumers
      // (connector sizeInBytes, history, compaction sizing) read it
      // from the manifest: at 100 TB an O(files) getFileStatus sweep
      // per QUERY PLAN is millions of object-store HEAD requests.
      // None only for pre-v17-field manifests; readers fall back to
      // one status call for those entries until `analyze` backfills.
      bytes: Option[Long] = None) {
    /** Recorded [lo, hi] for `key`, whichever stats slot holds it —
      * a Z-ordered file carries a bounding box on every curve column
      * (two named slots plus the open-ended extra list) and prunes on
      * any of them. */
    def statsFor(key: String): Option[(String, String)] =
      if (statsKey.contains(key) && lo.isDefined && hi.isDefined)
        Some((lo.get, hi.get))
      else if (statsKey2.contains(key) && lo2.isDefined && hi2.isDefined)
        Some((lo2.get, hi2.get))
      else {
        // `__sum:` / `__tsu:` slots are LOGICAL-name keyed (they follow
        // renames), so they match case-insensitively like ndv/colNulls;
        // range and bloom slots stay under exact physical names — that
        // is the coordinate system the pruning translation uses.
        val ci = key.startsWith(SnapshotTable.SumKeyPrefix) ||
          key.startsWith(SnapshotTable.TsuKeyPrefix)
        extraStats.collectFirst { case (k, l, h)
          if (if (ci) k.equalsIgnoreCase(key) else k == key) => (l, h) }
      }
  }

  /** The table's filesystem under the SESSION's Hadoop conf — the one
    * its reads and writes run with, so a scheme or credential set on
    * one session resolves for that session's tables. */
  private[sources] def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(connector.SessionHadoopConf.conf(spark))

  private def commitsDir(root: String) = new Path(root, "_commits")
  private def manifestsDir(root: String) = new Path(root, "_manifests")
  private def dataDir(root: String) = new Path(root, "_data")

  /** Committed versions, ascending; empty for a fresh/absent table. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val names =
      try fs(spark, root).listStatus(commitsDir(root)).toSeq
        .map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    names.collect { case s if s.forall(_.isDigit) => s.toLong }.sorted
  }

  /** `version`, or the current version when None, checked against ONE
    * `_commits` listing: a read resolves the version it serves and its
    * membership from the same listing. */
  private def committedVersion(spark: SparkSession, root: String,
      version: Option[Long]): Long = {
    val vs = versions(spark, root)
    val v = version.getOrElse(
      if (branchesEnabled(fs(spark, root), root))
        branchHead(spark, root, "main")
      else vs.lastOption.getOrElse(0L))
    require(vs.contains(v), s"version $v is not committed at $root")
    v
  }

  /** Highest version present anywhere in the log — committed (`N`),
    * claimed (`N.claim`) or manifested — the claim floor, so crashed
    * commits are skipped instead of fought over. */
  private def maxLogVersion(f: FileSystem, root: String): Long = {
    def names(dir: Path): Seq[String] =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq.map(_.getPath.getName)
    (names(commitsDir(root)) ++ names(manifestsDir(root)))
      .collect {
        case s if s.forall(_.isDigit) => s.toLong
        case s if s.endsWith(".claim") &&
          s.stripSuffix(".claim").forall(_.isDigit) =>
          s.stripSuffix(".claim").toLong
      }
      .foldLeft(0L)(math.max)
  }

  /** The table's CURRENT version: main's branch head once branching
    * is enabled, else the latest committed version (identical until
    * the first `createBranch` — branch commits claim later global
    * slots without moving main). 0 if the table has none. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    if (branchesEnabled(f, root)) branchHead(spark, root, "main")
    else versions(spark, root).lastOption.getOrElse(0L)
  }

  // ---- manifest IO ----
  // One line per file, tab-separated base64(UTF-8) fields
  // (path, statsKey, lo, hi, kind, seq, bloomKey, bloomBytes,
  // statsKey2, lo2, hi2) — base64 so stat values may contain any
  // character; empty field = None/default; bloomBytes is base64 of
  // RAW sketch bytes; the second stats triple is the Z-order box's
  // other dimension. Trailing fields are optional (readers pad), so
  // older manifests parse unchanged. Line 1 is a
  // format tag; v2 adds an optional `#schema\t<b64 json>` header: the
  // TABLE schema as of this version, recorded at commit time. Readers
  // apply it as an explicit read schema, which is what makes schema
  // evolution O(0) at plan time — no mergeSchema footer sweep over
  // every file (Iceberg's schema-in-metadata design; at 100 TB a
  // footer sweep is millions of reads before the first row).

  private val ManifestTagV1 = "graft-manifest-v1"
  private val ManifestTag = "graft-manifest-v2"
  // v3 = DELTA manifest: same line format, plus `#base\t<v>` naming
  // the parent version whose resolved entries the delta applies to
  // (`#drop\t<b64 path>` removals, rows are path-keyed upserts). A
  // reader that predates deltas fails loudly on the tag instead of
  // silently reading a partial table. Full manifests keep the v2 tag.
  private val ManifestTagV3 = "graft-manifest-v3"
  private val BaseHeader = "#base"
  private val DropHeader = "#drop"
  private val SchemaHeader = "#schema"

  private def b64(s: String): String = java.util.Base64.getEncoder
    .encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** Backtick-quote an identifier for SQL text interpolation —
    * doubling embedded backticks, Spark's escape rule, so a hostile
    * or merely unlucky column name can't break the statement. */
  private def bq(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Write version `v`'s manifest. With `parent` > 0 (the version
    * this commit derives from) a DELTA manifest is attempted: only
    * the entries that changed vs the parent's resolved set are
    * written, turning per-commit manifest IO from O(table) into
    * O(delta) — the difference between a 10-file append costing 10
    * lines and costing a million at 100 TB. The delta is written
    * ONLY when replaying it over the parent reproduces `entries`
    * exactly (order included — manifest order is load-bearing for
    * the limit/offset file-prefix pushdowns) AND it is actually
    * smaller than the full set; anything else falls back to the
    * self-contained v2 form. Chain depth is capped so a cold read
    * never walks more than ~32 files (compaction/replace reset it). */
  private def writeManifest(f: FileSystem, root: String, v: Long,
      entries: Seq[FileEntry], schema: StructType,
      parent: Long = 0L): Unit = {
    f.mkdirs(manifestsDir(root))
    val p = new Path(manifestsDir(root), v.toString)
    val content = deltaContent(f, root, entries, schema, parent)
      .getOrElse(fullContent(entries, schema))
    val out = f.create(p, false) // uncontended: only the claim holder
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private val MaxDeltaDepth = 32

  private def deltaContent(f: FileSystem, root: String,
      entries: Seq[FileEntry], schema: StructType,
      parent: Long): Option[String] = {
    if (parent <= 0L) return None
    val (pEntries, _, pDepth) =
      try readManifestAt(f, root, parent)
      catch { case scala.util.control.NonFatal(_) => return None }
    if (pDepth + 1 >= MaxDeltaDepth) return None
    val pByPath = pEntries.iterator.map(e => e.path -> e).toMap
    val entryPaths = entries.iterator.map(_.path).toSet
    val drops = pEntries.map(_.path).filterNot(entryPaths)
    // an upsert is any entry the parent lacks or holds differently.
    // FileEntry equality compares Array fields by REFERENCE — sound
    // here (ref-equal arrays are content-equal; carried entries pass
    // through the commit paths by reference), and conservative: a
    // false inequality only fattens the delta, never corrupts it
    val ups = entries.filter(e => !pByPath.get(e.path).contains(e))
    if ((drops.size + ups.size) * 2 >= entries.size + 1) return None
    // replay check: the delta IS the manifest contract — if applying
    // it over the parent does not reproduce `entries` bit-for-bit
    // (e.g. a commit that reorders files), write the full form
    if (applyDelta(pEntries, drops.toSet, ups) != entries) return None
    val sb = new StringBuilder(ManifestTagV3).append('\n')
    sb.append(SchemaHeader).append('\t').append(b64(schema.json))
      .append('\n')
    sb.append(BaseHeader).append('\t').append(parent.toString)
      .append('\n')
    drops.foreach(d => sb.append(DropHeader).append('\t')
      .append(b64(d)).append('\n'))
    ups.foreach(appendEntryLine(sb, _))
    Some(sb.toString)
  }

  /** Resolve a delta against its parent's entries: same-path rows
    * replace IN PLACE (preserving manifest order), new paths append
    * at the end in delta order, drops delete. */
  private def applyDelta(parent: Seq[FileEntry], drops: Set[String],
      ups: Seq[FileEntry]): Seq[FileEntry] = {
    val upByPath = ups.iterator.map(e => e.path -> e).toMap
    val parentPaths = parent.iterator.map(_.path).toSet
    parent.filterNot(e => drops(e.path))
      .map(e => upByPath.getOrElse(e.path, e)) ++
      ups.filterNot(e => parentPaths(e.path))
  }

  private def fullContent(entries: Seq[FileEntry],
      schema: StructType): String = {
      val sb = new StringBuilder(ManifestTag).append('\n')
      sb.append(SchemaHeader).append('\t').append(b64(schema.json))
        .append('\n')
      entries.foreach(appendEntryLine(sb, _))
      sb.toString
  }

  private def appendEntryLine(sb: StringBuilder,
      e: FileEntry): Unit = {
        sb.append(b64(e.path)).append('\t')
          .append(e.statsKey.fold("")(b64)).append('\t')
          .append(e.lo.fold("")(b64)).append('\t')
          .append(e.hi.fold("")(b64)).append('\t')
          .append(b64(e.kind)).append('\t')
          .append(b64(e.seq.toString)).append('\t')
          .append(e.bloomKey.fold("")(b64)).append('\t')
          .append(e.bloom.fold("")(
            java.util.Base64.getEncoder.encodeToString)).append('\t')
          .append(e.statsKey2.fold("")(b64)).append('\t')
          .append(e.lo2.fold("")(b64)).append('\t')
          .append(e.hi2.fold("")(b64)).append('\t')
          .append(e.rows.fold("")(r => b64(r.toString))).append('\t')
          .append(e.statsNulls.fold("")(n => b64(n.toString))).append('\t')
          // open-ended stats slots (Z-order dims 3+): ;-joined
          // :-separated b64 triplets — both separators are outside
          // the base64 alphabet
          .append(e.extraStats.map { case (k, l, h) =>
            s"${b64(k)}:${b64(l)}:${b64(h)}" }.mkString(";"))
          .append('\t')
          // NDV sketches: ;-joined b64(col):b64(registers) pairs —
          // field 15, blank-safe for old manifests (padTo) and ignored
          // by readers that predate it
          .append(e.ndv.map { case (k, s) =>
            s"${b64(k)}:${java.util.Base64.getEncoder.encodeToString(s)}"
          }.mkString(";"))
          .append('\t')
          // per-column null counts: field 16, same encoding contract
          .append(e.colNulls.map { case (k, n) =>
            s"${b64(k)}:${b64(n.toString)}" }.mkString(";"))
          .append('\t')
          // file length in bytes: field 17, blank-safe both ways
          .append(e.bytes.fold("")(b => b64(b.toString)))
          .append('\n')
        ()
  }

  /** Additive schema evolution: the new table schema after a batch
    * with `batch` columns lands on a table whose schema is `prior`.
    * Prior columns keep their position and type; batch-only columns
    * append at the end. A same-named column with a DIFFERENT type
    * fails the COMMIT — refusing at write time beats publishing a
    * table whose old files can no longer be read under the new schema
    * (the same rule Iceberg enforces; type WIDENING is a non-goal
    * here). Every column of the evolved schema is nullable: old files
    * read NULL for columns added after them, and new files read NULL
    * for prior columns the batch dropped. */
  private[graft] def evolveSchema(prior: StructType,
      batch: StructType): StructType = {
    // CASE-INSENSITIVE matching, like Spark's default resolution: a
    // batch column differing only in case must evolve onto the prior
    // column, not append a duplicate that poisons every later read
    // (Spark's duplicate-column check would reject the read schema)
    batch.fields.foreach { bf =>
      prior.fields.find(_.name.equalsIgnoreCase(bf.name)).foreach { pf =>
        require(pf.dataType == bf.dataType,
          s"incompatible schema change for column '${bf.name}': " +
            s"${pf.dataType.simpleString} -> ${bf.dataType.simpleString}")
      }
    }
    val priorNames = prior.fieldNames.map(_.toLowerCase).toSet
    StructType((prior.fields ++
      batch.fields.filterNot(f => priorNames.contains(f.name.toLowerCase)))
      .map(_.copy(nullable = true)))
  }

  /** The table's bloom-index column, derived from the current
    * version's data files: a bloom index is table METADATA in spirit,
    * so maintenance operations (merge, MOR commits, delete, compact,
    * plain appends) RE-APPLY it to the files they stage instead of
    * silently eroding the index — a serving table whose merges drop
    * the blooms degrades back toward full scans with no signal. */
  private def tableBloomKey(prior: Seq[FileEntry]): Option[String] =
    prior.find(e => e.kind == "d" && e.bloomKey.isDefined)
      .flatMap(_.bloomKey)

  /** An inherited bloom column is kept only when the staged frame
    * actually carries it — an evolving batch that predates the column
    * skips the index for its segment (conservatively unpruned on
    * read) rather than failing the write. */
  private def bloomFor(df: DataFrame, k: Option[String]): Option[String] =
    k.filter(c => df.columns.exists(_.equalsIgnoreCase(c)))

  /** The prior table schema for an evolving commit: the manifest's
    * recorded schema, or — on the v1 compatibility path, where the
    * manifest predates schema tracking — the footer-resolved schema of
    * the current version. Falling back to the BATCH schema instead
    * would silently drop prior-only columns from every later read. */
  private def priorSchemaOrRead(spark: SparkSession, root: String,
      cur: Long, recorded: Option[StructType]): StructType =
    recorded.getOrElse(readVersion(spark, root, cur).schema)

  /** The data files of version `v` — the metadata query a table
    * format's `.files` view answers. */
  def manifest(spark: SparkSession, root: String, v: Long): Seq[FileEntry] =
    readManifest(spark, root, v)

  private[sources] def readManifest(spark: SparkSession, root: String,
      v: Long): Seq[FileEntry] = readManifestFull(spark, root, v)._1

  // Parsed-manifest cache: a committed manifest is IMMUTABLE (writes
  // are exclusive-create, versions are never rewritten — maintenance
  // commits NEW versions), so re-parsing it per metadata operation is
  // pure waste: every query plan, history row, and stats read walks
  // readManifestFull, and at 100 TB a manifest carrying per-file
  // ranges/blooms/NDV registers for ~10^6 files is GBs of base64 to
  // decode. Entries are validated by (modTime, length) — one status
  // call, so test-surgery rewrites and vacuumed manifests are seen —
  // and kept in a small LRU (a handful of versions is all any
  // workload revisits; parsed manifests can be large). */
  private val ManifestCacheMax = 64
  private final case class CachedManifest(mtime: Long, len: Long,
      entries: Seq[FileEntry], schema: Option[StructType],
      depth: Int, base: Option[Long])
  private val manifestCache = new java.util.LinkedHashMap[
    String, CachedManifest](ManifestCacheMax, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String,
      CachedManifest]): Boolean = size() > ManifestCacheMax
  }

  /** Entries plus the committed table schema (None only for a
    * pre-schema v1 manifest, where readers fall back to footer
    * inference — the compatibility path, not the design). */
  private[sources] def readManifestFull(spark: SparkSession,
      root: String, v: Long): (Seq[FileEntry], Option[StructType]) = {
    val c = cachedManifest(fs(spark, root), root, v)
    (c.entries, c.schema)
  }

  /** The resolved manifest of version `v` with its delta-chain depth,
    * spark-free (writers resolve parents through the same cache). */
  private def readManifestAt(f: FileSystem, root: String, v: Long)
  : (Seq[FileEntry], Option[StructType], Int) = {
    val c = cachedManifest(f, root, v)
    (c.entries, c.schema, c.depth)
  }

  /** The version `v`'s manifest bases its delta on, if any —
    * expiry/vacuum must keep base manifests readable while any
    * survivor resolves through them. */
  private def manifestBase(f: FileSystem, root: String,
      v: Long): Option[Long] =
    cachedManifest(f, root, v).base

  /** (mtime, length) of version `v`'s manifest — the validation
    * [[cachedManifest]] uses, for callers that memoize work derived
    * from a version (a table deleted and recreated at the same root
    * reuses version numbers, not manifest files). */
  private[sources] def manifestStamp(spark: SparkSession, root: String,
      v: Long): (Long, Long) = {
    val st = fs(spark, root).getFileStatus(
      new Path(manifestsDir(root), v.toString))
    (st.getModificationTime, st.getLen)
  }

  private def cachedManifest(f: FileSystem, root: String,
      v: Long): CachedManifest = {
    val p = new Path(manifestsDir(root), v.toString)
    val st = f.getFileStatus(p) // also the existence check
    val key = p.toString
    manifestCache.synchronized {
      Option(manifestCache.get(key)).foreach { c =>
        if (c.mtime == st.getModificationTime && c.len == st.getLen)
          return c
      }
    }
    val (schema, base, drops, rows) = parseManifest(f, p)
    val resolved = base match {
      case None => CachedManifest(st.getModificationTime, st.getLen,
        rows, schema, 0, None)
      case Some(bv) =>
        val parent = cachedManifest(f, root, bv)
        CachedManifest(st.getModificationTime, st.getLen,
          applyDelta(parent.entries, drops.toSet, rows), schema,
          parent.depth + 1, Some(bv))
    }
    manifestCache.synchronized { manifestCache.put(key, resolved) }
    resolved
  }

  /** Raw single-file parse: (schema, delta base, drops, entry rows).
    * Full (v1/v2) manifests parse with no base and no drops. */
  private def parseManifest(f: FileSystem, p: Path)
  : (Option[StructType], Option[Long], Seq[String], Seq[FileEntry]) = {
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').toSeq.filter(_.nonEmpty)
    require(lines.headOption.exists(t =>
      t == ManifestTag || t == ManifestTagV1 || t == ManifestTagV3),
      s"unrecognized manifest format at $p")
    val (headers, rows) = lines.drop(1).partition(_.startsWith("#"))
    val schema = headers.collectFirst {
      case h if h.startsWith(SchemaHeader + "\t") =>
        DataType.fromJson(unb64(h.split('\t')(1)))
          .asInstanceOf[StructType]
    }
    val base = headers.collectFirst {
      case h if h.startsWith(BaseHeader + "\t") =>
        h.split('\t')(1).toLong
    }
    require(base.isEmpty || lines.head == ManifestTagV3,
      s"delta header in a non-delta manifest at $p")
    val drops = headers.collect {
      case h if h.startsWith(DropHeader + "\t") => unb64(h.split('\t')(1))
    }
    val entries = rows.map { l =>
      val fld = l.split('\t').padTo(17, "")
      FileEntry(unb64(fld(0)),
        Option(fld(1)).filter(_.nonEmpty).map(unb64),
        Option(fld(2)).filter(_.nonEmpty).map(unb64),
        Option(fld(3)).filter(_.nonEmpty).map(unb64),
        Option(fld(4)).filter(_.nonEmpty).map(unb64).getOrElse("d"),
        Option(fld(5)).filter(_.nonEmpty).map(unb64)
          .map(_.toLong).getOrElse(0L),
        Option(fld(6)).filter(_.nonEmpty).map(unb64),
        Option(fld(7)).filter(_.nonEmpty)
          .map(java.util.Base64.getDecoder.decode),
        Option(fld(8)).filter(_.nonEmpty).map(unb64),
        Option(fld(9)).filter(_.nonEmpty).map(unb64),
        Option(fld(10)).filter(_.nonEmpty).map(unb64),
        Option(fld(11)).filter(_.nonEmpty).map(unb64).map(_.toLong),
        Option(fld(12)).filter(_.nonEmpty).map(unb64).map(_.toLong),
        Option(fld(13)).filter(_.nonEmpty).toSeq.flatMap(_.split(';')
          .toSeq.filter(_.nonEmpty).map { t =>
            // limit -1 keeps trailing empties: the sum-unavailable
            // sentinel legitimately encodes as `key::`
            val p = t.split(":", -1)
            (unb64(p(0)), unb64(p(1)), unb64(p(2)))
          }),
        Option(fld(14)).filter(_.nonEmpty).toSeq.flatMap(_.split(';')
          .toSeq.filter(_.nonEmpty).map { t =>
            val p = t.split(':')
            (unb64(p(0)), java.util.Base64.getDecoder.decode(p(1)))
          }),
        Option(fld(15)).filter(_.nonEmpty).toSeq.flatMap(_.split(';')
          .toSeq.filter(_.nonEmpty).map { t =>
            val p = t.split(':')
            (unb64(p(0)), unb64(p(1)).toLong)
          }),
        Option(fld(16)).filter(_.nonEmpty).map(unb64).map(_.toLong))
    }
    (schema, base, drops, entries)
  }

  /** The table's current schema as recorded in the manifest — the
    * metadata query `DESCRIBE TABLE` answers, no file opened. None for
    * an empty table or a pre-schema (v1) manifest. */
  def tableSchema(spark: SparkSession, root: String): Option[StructType] = {
    val cur = currentVersion(spark, root)
    if (cur == 0L) None
    else readManifestFull(spark, root, cur)._2
  }

  private def absolute(root: String, e: FileEntry): String =
    new Path(root, e.path).toString

  // ---- segment staging ----

  /** Per-file bloom sizing for `bloomKey` segments. Fixed geometry so
    * partial buffers merge (and so the manifest cost is known upfront:
    * ~60 KB per file at 50k expected keys / 2%). Overfull files only
    * degrade the false-positive rate — pruning effectiveness, never
    * correctness. Blooms are OPT-IN per table and meant for SERVING
    * tables (clustered views, compacted dimensions) whose file counts
    * are bounded; a fact table at 100 TB keeps the payload-free
    * min/max stats path and puts blooms in the parquet footers
    * instead (`parquet.bloom.filter.enabled#col`), where they prune
    * row groups without fattening the manifest. */
  private val BloomExpectedItems = 50000
  private val BloomFppPct = 2

  /** Interleaved Z-curve value over N key columns: each key is
    * min/max-normalized to `b = 32/N` bits (16 for two dims, 10 for
    * three, 8 for four — total curve precision is a fixed bit budget,
    * the standard multi-dim trade-off), and bit i of key j lands at
    * curve position `N*i + j`. One driver-side min/max row computes
    * the normalization ranges; empty/all-NULL keys degrade to an
    * unordered write instead of throwing. The interleave is a pure
    * column expression (shift/and/or folds), fully codegen'd. */
  private def zOrderColumnN(df: DataFrame, keys: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{floor, least, shiftleft, shiftright}
    require(keys.nonEmpty && keys.size <= 8,
      s"z-order supports 1..8 dims, got ${keys.size}")
    val bits = math.max(4, math.min(16, 32 / keys.size))
    val aggCols = keys.flatMap(k => Seq(smin(col(k)).cast("double"),
      smax(col(k)).cast("double")))
    val stats = df.agg(aggCols.head, aggCols.tail: _*).head()
    if (keys.indices.exists(j => stats.isNullAt(2 * j))) return lit(0L)
    val top = (1L << bits) - 1
    def normB(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(top), floor(
        (c.cast("double") - lit(lo)) / lit(hi - lo) *
          lit((top + 1).toDouble)).cast("long"))
    val normed = keys.zipWithIndex.map { case (k, j) =>
      normB(col(k), stats.getDouble(2 * j), stats.getDouble(2 * j + 1))
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      normed.zipWithIndex.foldLeft(acc) { case (a, (nk, j)) =>
        a.bitwiseOR(shiftleft(shiftright(nk, i).bitwiseAND(lit(1L)),
          keys.size * i + j))
      }
    }
  }

  /** Write `df` as a new immutable segment; returns its file entries.
    * With `clusterKey` the segment is range-partitioned + sorted on the
    * key and each file's min/max is recorded — the stats MERGE prunes
    * on (and the same layout `Sources.writeClustered` gives a plain
    * directory). With `bloomKey` each file additionally records a
    * membership sketch of that column — the secondary index
    * [[readKeys]] prunes with when the requested key is NOT the
    * cluster key (min/max on an unclustered column spans everything;
    * a bloom does not care about ordering). */
  private def stageSegment(spark: SparkSession, root: String,
      df: DataFrame, clusterKey: Option[String],
      files: Int, bloomKey: Option[String] = None,
      zorderWith: Option[String] = None,
      zorderExtra: Seq[String] = Nil)
  : (Path, Seq[FileEntry]) = {
    (clusterKey.toSeq ++ bloomKey ++ zorderWith ++ zorderExtra).foreach(k =>
      require(df.schema.fieldNames.exists(_.equalsIgnoreCase(k)),
        s"stats column '$k' is not a column of the batch"))
    val seg = newSegmentPath(root)
    // A multi-file range layout pays repartitionByRange's SAMPLE pass
    // (a second evaluation of the staged frame for range bounds).
    // Persisting the frame around bounds+write was tried and MEASURED
    // SLOWER at bench scale (r18 A/B, min-of-rounds: snapshot_mv_join
    // 6.65→7.76, snapshot_mv_fresh +0.5, snapshot_mv_star +0.9 with
    // the persist on): building the SQL columnar cache costs more
    // than re-running the upstream when the upstream is a scan-shaped
    // frame, and it squeezes execution memory for the write itself.
    // files<=1 (every steady-state adaptive MV refresh) never samples.
    val shaped = (clusterKey, zorderWith) match {
      case (Some(a), Some(b)) =>
        // Z-ORDER layout: range-partition + sort on the interleaved
        // curve, so every file is a compact BOX in (a, b, ...) space
        // and the min/max recorded for EACH column prunes on its own
        df.withColumn("__z",
            zOrderColumnN(df, Seq(a, b) ++ zorderExtra))
          .repartitionByRange(math.max(1, files), col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      case (Some(k), None) =>
        df.repartitionByRange(math.max(1, files), col(k))
          .sortWithinPartitions(col(k))
      case _ => df
    }
    val segStr = seg.toString
    val schemaJson = shaped.schema.json
    val spec = inlineStatsSpec(spark, shaped.schema, clusterKey, bloomKey,
      zorderExtra, zorderWith)
    // df.write.parquet's session cap on rows per file (0 = unlimited)
    val maxRecs = spark.sessionState.conf.maxRecordsPerFile
    val written = stageFiles(spark, root, seg, shaped,
      "graft_stage_segment") { (hc, pid, attempt) =>
      new connector.GraftDataWriter(segStr, schemaJson, pid, attempt,
        spec, hc, maxRecords = maxRecs)
    }
    if (written.nonEmpty)
      return (seg, stagedEntries(seg, written, clusterKey, bloomKey,
        zorderWith))
    // an all-empty batch: df.write.parquet leaves one empty file so
    // the segment stays readable — mirror that exactly
    val name = "part-00000-0.snappy.parquet"
    val p = new Path(seg, name)
    connector.GraftDataWriter.nativeWriter(p, shaped.schema,
      connector.SessionHadoopConf.conf(spark)).close()
    (seg, Seq(FileEntry(s"_data/${seg.getName}/$name", clusterKey,
      None, None, rows = Some(0L),
      bytes = Some(fs(spark, root).getFileStatus(p).getLen))))
  }

  /** Runs one native staging job and returns the stats of every file
    * it wrote. Each task of `shaped` feeds its rows to the connector
    * writer `newWriter` builds from the session's conf broadcast, its
    * partition id and its task attempt id, one layout per caller:
    *  - clustered, Z-ordered and plain segments ([[stageSegment]]):
    *    [[connector.GraftDataWriter]], one file per task, rolling at
    *    `maxRecordsPerFile`;
    *  - identity partitions ([[stagePartitioned]]):
    *    [[connector.GraftPartitionedAppendWriter]], one value-pure file
    *    per key tuple a task sees, NULL keys refused;
    *  - bucket grids ([[stageBucketed]]):
    *    [[connector.GraftBucketedAppendWriter]] routing on the batch's
    *    trailing [[gridCell]] column, one file per cell a task sees.
    * The job runs as one SQL execution named, and described, by
    * `label`. A failed task attempt aborts its writer, which deletes
    * every file the attempt wrote; a
    * failed job deletes the whole segment, so files of its succeeded
    * tasks do not wait for vacuum. */
  private def stageFiles(spark: SparkSession, root: String, seg: Path,
      shaped: DataFrame, label: String)(newWriter: StageWriter)
  : Seq[InlineFileStats] = {
    val task = new StageTask(connector.SessionHadoopConf.broadcast(spark),
      newWriter)
    val qe = shaped.queryExecution
    try describedJobs(spark, label) {
      org.apache.spark.sql.execution.SQLExecution
        .withNewExecutionId(qe, Some(label)) {
        val rdd = qe.toRdd
        val written = new Array[Seq[InlineFileStats]](rdd.getNumPartitions)
        spark.sparkContext.runJob(rdd, task, written.indices,
          (pid: Int, files: Seq[InlineFileStats]) => written(pid) = files)
        written.toSeq.flatten
      }
    } catch {
      case e: Throwable =>
        fs(spark, root).delete(seg, true)
        throw e
    }
  }

  private type StageWriter = (org.apache.spark.broadcast.Broadcast[
    connector.SerializableHadoopConf], Int, Long) =>
    org.apache.spark.sql.connector.write.DataWriter[
      org.apache.spark.sql.catalyst.InternalRow]

  /** [[stageFiles]]' task body, run directly by `runJob`. A named
    * class, not a lambda: Spark's closure cleaner reads and scans the
    * class file that declares a lambda on every job it cleans, and for
    * a lambda declared here (or RDD.collect's, declared in RDD and
    * SparkContext) that is a class file of hundreds of KB per job. */
  private final class StageTask(hc: org.apache.spark.broadcast.Broadcast[
      connector.SerializableHadoopConf], newWriter: StageWriter)
    extends ((org.apache.spark.TaskContext,
      Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
      Seq[InlineFileStats]) with Serializable {
    override def apply(tc: org.apache.spark.TaskContext,
        it: Iterator[org.apache.spark.sql.catalyst.InternalRow])
    : Seq[InlineFileStats] = {
      val w = newWriter(hc, tc.partitionId(), tc.taskAttemptId())
      try {
        while (it.hasNext) w.write(it.next())
        w.commit().asInstanceOf[connector.GraftTaskFiles].files
      } catch {
        case e: Throwable =>
          try w.abort() catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      } finally w.close()
    }
  }

  /** Runs `body` with `label` as the description of every Spark job it
    * starts, so listeners (Profile's timeline, the UI) name graft's
    * internal jobs; the caller's description is restored after. */
  private[sources] def describedJobs[T](spark: SparkSession,
      label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, label)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }
  private val JobDescription = "spark.job.description"

  /** Everything a manifest entry records about one staged file,
    * computed by the write task itself while the rows stream into
    * parquet. `bucket` is the file's grid cell in a bucketed layout. */
  private[sources] case class InlineFileStats(name: String, rows: Long,
      bytes: Long, lo: Option[String], hi: Option[String], nulls: Long,
      bloom: Option[Array[Byte]],
      lo2: Option[String], hi2: Option[String],
      extras: Seq[(String, Option[String], Option[String])],
      ndv: Seq[(String, Array[Byte])], bucket: Option[Int])

  /** Typed running min/max + null count over one column of the rows a
    * task writes, using the interpreted ordering Spark's `min`/`max`
    * aggregates use. Retained values are copied when they alias
    * task-reused buffers (UTF8String). */
  private class MinMaxAcc(dt: DataType) {
    private val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(dt)
    var lo: Any = null
    var hi: Any = null
    var nulls: Long = 0L
    private def own(v: Any): Any = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
      case x => x
    }
    def add(v: Any): Unit =
      if (v == null) nulls += 1
      else {
        if (lo == null || ord.compare(v, lo) < 0) lo = own(v)
        if (hi == null || ord.compare(v, hi) > 0) hi = own(v)
      }
  }

  /** Render a catalyst value as `cast(x AS STRING)` does under the
    * session time zone — the manifest's stat encoding. */
  private def renderStat(v: Any, dt: DataType, tz: String)
  : Option[String] =
    Option(v).map { x =>
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(x, dt),
        StringType, Option(tz)).eval().toString
    }

  /** Serializable per-file stats recipe for the staging writers: which
    * row positions to range (`ck`, the Z-order partner `zk`, the extra
    * layout keys `ze`), bloom (`bk`) and NDV-sketch while writing. */
  private[sources] case class InlineStatsSpec(
      ck: Option[(Int, DataType)], bk: Option[(Int, DataType)],
      zk: Option[(Int, DataType)],
      ze: Seq[(String, Int, DataType)],
      ndv: Seq[(String, Int, DataType)], tz: String)

  private[sources] def inlineStatsSpec(spark: SparkSession,
      schema: StructType, clusterKey: Option[String],
      bloomKey: Option[String], gridExtra: Seq[String] = Nil,
      zorderWith: Option[String] = None): InlineStatsSpec = {
    // a stat column absent from this batch's schema records nothing
    // (e.g. a DELETE's plan carries no data columns)
    def present(k: String): Boolean =
      schema.fieldNames.exists(_.equalsIgnoreCase(k))
    def spec1(k: String): (Int, DataType) = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(k))
      (i, schema(i).dataType)
    }
    val ckP = clusterKey.filter(present)
    val bkP = bloomKey.filter(present)
    val zkP = zorderWith.filter(present)
    val zeP = gridExtra.filter(present)
    val passCols = (ckP.toSeq ++ bkP ++ zkP ++ zeP)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val ndvCols =
      if (ckP.isEmpty && bkP.isEmpty) Nil
      else ndvStatFields(schema, passCols)
    InlineStatsSpec(ckP.map(spec1), bkP.map(spec1), zkP.map(spec1),
      zeP.map(k => (k, spec1(k)._1, spec1(k)._2)),
      ndvCols.map(fd => (fd.name, spec1(fd.name)._1, fd.dataType)),
      spark.sessionState.conf.sessionLocalTimeZone)
  }

  /** Task-side accumulator over one file's rows for an
    * [[InlineStatsSpec]]: the staging writer feeds every written row
    * through [[add]] and reads the finished [[InlineFileStats]] when
    * the file closes. */
  private[sources] final class InlineStatsAcc(spec: InlineStatsSpec) {
    private val ck = spec.ck.map { case (_, dt) => new MinMaxAcc(dt) }
    private val zk = spec.zk.map { case (_, dt) => new MinMaxAcc(dt) }
    private val ze = spec.ze.map { case (_, _, dt) => new MinMaxAcc(dt) }
    private val ndvRegs =
      spec.ndv.map(_ => new Array[Byte](1 << NdvPrecision))
    private val bloomBits =
      Bloom.bitsFor(BloomExpectedItems, BloomFppPct / 100.0)
    private val bloomHashes = Bloom.hashesFor(bloomBits, BloomExpectedItems)
    private val bloomWords =
      spec.bk.map(_ => new Array[Long](bloomBits >> 6))
    private var n = 0L

    def rows: Long = n

    def add(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      spec.ck.foreach { case (i, dt) =>
        ck.get.add(if (r.isNullAt(i)) null else r.get(i, dt)) }
      spec.zk.foreach { case (i, dt) =>
        zk.get.add(if (r.isNullAt(i)) null else r.get(i, dt)) }
      var j = 0
      while (j < spec.ze.length) {
        val (_, i, dt) = spec.ze(j)
        ze(j).add(if (r.isNullAt(i)) null else r.get(i, dt))
        j += 1
      }
      j = 0
      while (j < spec.ndv.length) {
        val (_, i, dt) = spec.ndv(j)
        if (!r.isNullAt(i)) graft.functions.Hll.add(ndvRegs(j),
          graft.functions.Hll.hashValue(r.get(i, dt), dt))
        j += 1
      }
      spec.bk.foreach { case (i, dt) =>
        if (!r.isNullAt(i)) Bloom.add(bloomWords.get, bloomHashes,
          graft.functions.Hll.hashValue(r.get(i, dt), dt)) }
      n += 1
    }

    def finish(name: String, bytes: Long, bucket: Option[Int])
    : InlineFileStats =
      InlineFileStats(name, n, bytes,
        ck.flatMap(a => renderStat(a.lo, spec.ck.get._2, spec.tz)),
        ck.flatMap(a => renderStat(a.hi, spec.ck.get._2, spec.tz)),
        ck.map(_.nulls).getOrElse(0L),
        bloomWords.map(w => Bloom.toBytes(bloomHashes,
          Bloom.shrinkToTarget(w, bloomHashes, BloomFppPct / 100.0))),
        zk.flatMap(a => renderStat(a.lo, spec.zk.get._2, spec.tz)),
        zk.flatMap(a => renderStat(a.hi, spec.zk.get._2, spec.tz)),
        spec.ze.zip(ze).map { case ((k, _, dt), a) =>
          (k, renderStat(a.lo, dt, spec.tz),
            renderStat(a.hi, dt, spec.tz)) },
        spec.ndv.zip(ndvRegs).map { case ((c, _, _), regs) =>
          (c, regs) },
        bucket)
  }

  /** The manifest entries for the files staging tasks wrote into
    * `seg`, sorted by file name: partition ids are zero-padded, so
    * name order is partition order — ascending key ranges for a
    * range-clustered segment — whatever order the tasks finished in.
    * Every commit path, native and DSv2, builds its entries here. A
    * bucketed file records its cell in the `__bucket` slot;
    * `partitionTail` (the tail keys of a composite identity layout)
    * gets zero NULL counts, true BY CONSTRUCTION since the writer
    * refused NULL keys — stamped so tuple purity is verifiable from
    * the manifest, not the declaration. */
  private[sources] def stagedEntries(seg: Path, files: Seq[InlineFileStats],
      clusterKey: Option[String], bloomKey: Option[String],
      zorderWith: Option[String] = None,
      partitionTail: Seq[String] = Nil): Seq[FileEntry] =
    files.sortBy(_.name).map { s =>
      FileEntry(s"_data/${seg.getName}/${s.name}", clusterKey, s.lo, s.hi,
        bloomKey = bloomKey.filter(_ => s.bloom.isDefined),
        bloom = s.bloom,
        statsKey2 = zorderWith.filter(_ =>
          s.lo2.isDefined && s.hi2.isDefined),
        lo2 = s.lo2, hi2 = s.hi2,
        statsNulls = clusterKey.map(_ => s.nulls),
        extraStats = s.extras.collect {
          case (k, Some(l), Some(h)) => (k, l, h) } ++
          s.bucket.map(b => ("__bucket", b.toString, b.toString)),
        ndv = s.ndv, colNulls = partitionTail.map(_ -> 0L),
        rows = Some(s.rows), bytes = Some(s.bytes))
    }

  /** HLL register count for per-file NDV sketches: 2^9 = 512 bytes
    * per column per file (~4.6% standard error) — small enough to ride
    * the manifest at serving-table file counts, accurate enough for
    * CBO join-cardinality estimates.
    *
    * WRITE-PATH COST CONTRACT: a commit sketches only the columns its
    * stats pass ALREADY reads (cluster / bloom / Z-order / bucket
    * keys — the table's join keys, exactly the NDVs join estimation
    * needs), at most [[NdvMaxColumns]] of them. Zero extra IO: a plain
    * commit keeps its zero-pass write and records no sketch.
    * Full-column stats without an ingest tax: [[analyze]] (surfaced
    * as `CALL graft.system.analyze`), the Iceberg ANALYZE shape — one
    * explicit pass enriching the current manifest. */
  private[sources] val NdvPrecision = 9

  /** Column cap for NDV sketches, on commits and in [[analyze]]. */
  private val NdvMaxColumns = 16

  private def ndvStatFields(schema: StructType,
      passCols: Set[String]): Seq[StructField] =
    schema.fields.toSeq
      // "__"-prefixed columns are write-path internals (e.g. the
      // identity-partition value directory, which partition discovery
      // re-surfaces when the stats pass reads a nested segment) —
      // never table columns, never sketched
      .filterNot(_.name.startsWith("__"))
      .filter(f => graft.functions.Hll.hashable(f.dataType))
      .filter(f =>
        passCols.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
      .take(NdvMaxColumns)

  /** Merged NDV estimates over a set of manifest entries:
    * column -> distinct-count estimate from the per-file HLL register
    * unions. A column is reported only when EVERY data file carries
    * its sketch — a partial union undercounts, and a wrong NDV is
    * worse for the CBO than no NDV. Metadata only, no file IO. */
  def ndvEstimates(entries: Seq[FileEntry]): Map[String, Long] = {
    val maps = entries.filter(_.kind == "d").map(_.ndv.toMap)
    if (maps.isEmpty || maps.exists(_.isEmpty)) return Map.empty
    maps.map(_.keySet).reduce(_ intersect _).iterator.map { c =>
      val it = maps.iterator.map(_(c))
      val acc = it.next().clone()
      it.foreach(graft.functions.Hll.merge(acc, _))
      c -> graft.functions.Hll.estimate(acc)
    }.toMap
  }

  /** The numeric type domain for recorded ranges / histograms / CBO
    * bounds — one definition, so a type added here gets ranges,
    * histograms and typed bounds together (the connector's catalyst
    * boxing must be extended in step). */
  private[graft] def cboNumeric(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType => true
    // decimals render as plain scale-fixed strings (cast-to-string)
    // and statOrdering compares them as BigDecimal — ranges,
    // histograms (double-approximated bins) and typed CBO bounds all
    // work; the connector boxes bounds as java.math.BigDecimal
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  /** The EXACT-sum type domain: per-file sums recorded by [[analyze]]
    * feed complete SUM/AVG-free aggregate pushdown, so only types
    * whose sums are order-independent and losslessly rendered qualify
    * — integrals and decimals. Float/double sums are excluded: IEEE
    * addition is non-associative, so a manifest answer could differ
    * in the last ulp from Spark's row-order answer. */
  private[graft] def summable(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  /** The extra-stats slot key holding a file's exact column sum —
    * value-based (like the NDV sketches), so it RE-KEYS on rename
    * ([[renameColumn]]'s rekeyed block translates this namespace) and
    * is looked up under the current logical name, case-insensitively
    * like every other per-column stat. */
  private[graft] val SumKeyPrefix = "__sum:"
  private[graft] def sumKey(name: String): String = s"$SumKeyPrefix$name"

  /** Sentinel slot VALUE meaning "this file's sum is unavailable" —
    * recorded when a file's exact sum overflowed the decimal(38)
    * accumulator. The file then counts as SKETCHED (analyze converges,
    * never re-reads it) while the SUM-pushdown consumer sees the
    * sentinel and declines to answer from the manifest. `!` can never
    * collide with a real sum (rendered decimals are digits/sign/dot)
    * and — unlike the empty string it replaces — encodes NON-EMPTY in
    * the manifest (`key:b64(!):b64(!)`), so readers predating the
    * `split(":", -1)` fix decode it without crashing during a rolling
    * upgrade. Read-side compatibility: manifests written while the
    * sentinel was `""` encode `key::` — [[sumUnavailable]] accepts
    * BOTH forms forever. */
  private[graft] val SumUnavailable = "!"

  /** Is this slot value the unavailable sentinel? Accepts the current
    * `!` form and the legacy empty-string form r14 manifests carry. */
  private[graft] def sumUnavailable(v: String): Boolean =
    v.isEmpty || v == SumUnavailable

  /** The extra-stats slot holding a TIMESTAMP column's per-file
    * [min, max] as EPOCH-MICROS — the TZ-independent coordinate the
    * string-rendered range slots cannot provide (a cast-to-string
    * bound is only comparable under the session zone that rendered
    * it; epoch micros are absolute instants, which is also catalyst's
    * own internal timestamp value). Feeds exact MIN/MAX(ts) aggregate
    * pushdown — "first/last event over a petabyte" as a metadata
    * read. Value-based and logical-name keyed like [[sumKey]]: the
    * rename re-key block translates this namespace too. */
  private[graft] val TsuKeyPrefix = "__tsu:"
  private[graft] def tsuKey(name: String): String = s"$TsuKeyPrefix$name"

  /** The stats passes' read schema: what data files STORE. Initial
    * defaults are stripped (the passes record stored values; the
    * default overrides are stamped separately); rename epochs stay, so
    * pre-rename files read their columns under the old names instead
    * of recording all-NULL stats onto real values. */
  private def storedSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(InitDefaultKey)
        .remove(InitDefaultAtKey).build())))

  /** Does this file lack a sketch or null count for some of `cols`?
    * The staleness predicate shared by incremental [[analyze]], the
    * auto-analyze policy and `t.stats`' staleness column. */
  private def unsketched(e: FileEntry,
      cols: Seq[StructField]): Boolean = {
    // a missing value slot (exact sum / epoch-micros ts range) is
    // legitimate only when the file stores no non-null values of the
    // column (SQL SUM/MIN/MAX ignore those files); files analyzed
    // before the slot kind existed heal on one re-read
    def allNull(fd: StructField): Boolean =
      e.colNulls.exists(kv => kv._1.equalsIgnoreCase(fd.name) &&
        e.rows.contains(kv._2))
    !cols.forall(fd =>
      e.ndv.exists(_._1.equalsIgnoreCase(fd.name)) &&
        e.colNulls.exists(_._1.equalsIgnoreCase(fd.name)) &&
        (!summable(fd.dataType) ||
          e.statsFor(sumKey(fd.name)).isDefined || allNull(fd)) &&
        (fd.dataType != org.apache.spark.sql.types.TimestampType ||
          e.statsFor(tsuKey(fd.name)).isDefined || allNull(fd)))
  }

  private def analyzableCols(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(fd =>
      graft.functions.Hll.hashable(fd.dataType))
      .take(NdvMaxColumns)

  /** AUTO-ANALYZE policy (opt-in): after an append on main, if the
    * fraction of data files missing full column stats exceeds
    * `spark.graft.stats.analyze.auto.minStale` (default 0.2), run an
    * incremental [[analyze]] — which reads only those files, so the
    * steady-state cost is O(data appended since the last analyze)
    * amortized over commits, never O(table). Advisory: a lost race
    * or failure never fails the append that triggered it. */
  private def maybeAutoAnalyze(spark: SparkSession,
      root: String): Unit = {
    try {
      if (!spark.conf.getOption("spark.graft.stats.analyze.auto")
        .exists(_.toBoolean)) return
      val minStale = spark.conf
        .getOption("spark.graft.stats.analyze.auto.minStale")
        .map(_.toDouble).getOrElse(0.2)
      val cur = currentVersion(spark, root)
      if (cur == 0L) return
      val (entries, recorded) = readManifestFull(spark, root, cur)
      val data = entries.filter(_.kind == "d")
      if (data.isEmpty) return
      val cols = analyzableCols(priorSchemaOrRead(spark, root, cur, recorded))
      if (cols.isEmpty) return
      val stale = data.count(unsketched(_, cols))
      if (stale.toDouble / data.size > minStale) {
        analyze(spark, root)
        // a maintained histogram rides the same trigger: fold the
        // appended files into the stored per-bin sketches (one pass
        // over the new files) so range selectivity stays sharp
        // between explicit analyzeHistograms runs
        if (tableProperties(spark, root).contains("graft.hist.version"))
          refreshHistograms(spark, root)
      }
    } catch {
      // ADVISORY, totally: the triggering append IS committed by the
      // time we run — ANY failure here (lost race, concurrent vacuum
      // pulling a file mid-read, a malformed conf value) must not
      // make that append look failed, or the caller re-submits the
      // same data
      case scala.util.control.NonFatal(_) => ()
    }
  }

  /** Per-column statistics summary over a manifest — the data behind
    * the catalog's `t.stats` metadata view: merged NDV (strict
    * all-files rule, see [[ndvEstimates]]), summed NULL counts (from
    * the stats column's per-file nulls or analyze's per-column
    * counts), min/max over the recorded per-file ranges, and how many
    * files carry a sketch (the staleness signal — re-run analyze when
    * it trails the file count). Metadata only, no file IO. */
  /** Manifest-chain observability (the catalog's `t.manifests` view):
    * one row per committed version — full or delta form, the base it
    * resolves through, chain depth, and on-disk byte size. The
    * operator's answer to "is my metadata still O(batch) per commit,
    * and how long is the cold-read chain". Metadata only. */
  def manifestInfo(spark: SparkSession, root: String)
  : Seq[(Long, String, Option[Long], Int, Long)] = {
    val f = fs(spark, root)
    versions(spark, root).map { v =>
      val st = f.getFileStatus(new Path(manifestsDir(root), v.toString))
      val c = cachedManifest(f, root, v)
      (v, if (c.base.isDefined) "delta" else "full", c.base, c.depth,
        st.getLen)
    }
  }

  /** Stats STALENESS of the current snapshot: the fraction of data
    * files missing full column sketches for at least one analyzable
    * column — exactly the quantity the auto-analyze trigger compares
    * against `minStale`, exposed so ingest jobs can alert on stats
    * drift instead of discovering it as a silently shuffling join.
    * Metadata only. 0.0 for an empty table (nothing can be stale). */
  def statsStaleness(spark: SparkSession, root: String): Double = {
    val cur = currentVersion(spark, root)
    if (cur == 0L) return 0.0
    val (entries, recorded) = readManifestFull(spark, root, cur)
    val data = entries.filter(_.kind == "d")
    if (data.isEmpty) return 0.0
    val cols = analyzableCols(priorSchemaOrRead(spark, root, cur, recorded))
    if (cols.isEmpty) return 0.0
    data.count(unsketched(_, cols)).toDouble / data.size
  }

  def statsSummary(entries: Seq[FileEntry], schema: StructType): Seq[
    (String, Option[Long], Option[Long], Option[String],
      Option[String], Long)] = {
    val data = entries.filter(_.kind == "d")
    val ndv = ndvEstimates(entries)
    schema.fields.toSeq.map { fd =>
      val n = fd.name
      // same per-column rule as [[unsketched]] (analyze/auto-analyze
      // staleness): a file counts as sketched only with BOTH the
      // NDV registers and the null count — "re-run analyze when this
      // trails data_files" must agree with what analyze would re-read
      val sketched = data.count(e =>
        e.ndv.exists(_._1.equalsIgnoreCase(n)) &&
          e.colNulls.exists(_._1.equalsIgnoreCase(n))).toLong
      val distinct = ndv.collectFirst {
        case (c, v) if c.equalsIgnoreCase(n) => v }
      val nulls =
        if (data.nonEmpty && data.forall(e =>
          e.statsKey.exists(_.equalsIgnoreCase(
            physicalName(fd, e.seq))) && e.statsNulls.isDefined))
          Some(data.map(_.statsNulls.get).sum)
        else if (data.nonEmpty && data.forall(
          _.colNulls.exists(_._1.equalsIgnoreCase(n))))
          Some(data.map(
            _.colNulls.find(_._1.equalsIgnoreCase(n)).get._2).sum)
        else None
      // a renamed column's RANGE stats live under each file's
      // physical epoch name — translate per file, so min/max stay
      // reported across both populations
      val ranges = data.map(e => e.statsFor(physicalName(fd, e.seq)))
      val (mn, mx) =
        if (data.nonEmpty && ranges.forall(_.isDefined))
          statOrdering(fd.dataType) match {
            case Some(cmp) =>
              val ord = Ordering.fromLessThan[String](cmp(_, _) < 0)
              (Some(ranges.map(_.get._1).min(ord)),
                Some(ranges.map(_.get._2).max(ord)))
            case None => (None, None)
          }
        else (None, None)
      (n, distinct, nulls, mn, mx, sketched)
    }
  }

  /** File length via one status call; None if the file is gone or
    * the filesystem errors (the entry then carries no size). */
  private def fileLen(f: FileSystem, root: String,
      rel: String): Option[Long] =
    try Some(f.getFileStatus(new Path(root, rel)).getLen)
    catch { case _: Exception => None }

  /** An entry's byte size for sizing decisions: the manifest-recorded
    * length, or — compatibility path for manifests that predate byte
    * recording — ONE file-status call. Consumers that sum this over a
    * whole manifest (history, compaction sizing, the connector's
    * sizeInBytes) stay metadata-only on any table written or
    * `analyze`d since bytes landed. */
  private[graft] def entryBytes(f: FileSystem, root: String,
      e: FileEntry): Long =
    e.bytes.orElse(fileLen(f, root, e.path)).getOrElse(0L)

  /** SCALE-ADAPTIVE file count for re-committing a table whose current
    * size is knowable from its manifest (metadata-only, no data IO):
    * one ~128 MB file per 128 MB of current data, clamped to
    * [1, cap]. The materialized-view refresh paths use this instead of
    * a constant 8: a KB-scale rollup commits ONE file — and because
    * `RangePartitioner(partitions = 1)` needs no range bounds, the
    * range-clustering SAMPLE PASS (a full extra evaluation of the
    * refresh's merge frame) disappears with it — while a view that has
    * grown past 128 MB gets proportionally more files, up to `cap`.
    * Never-committed roots fall back to the old default (8): there is
    * nothing to size from, and a bootstrap rollup can be large. */
  private[sources] def adaptiveFiles(spark: SparkSession, root: String,
      cap: Int = 64): Int = {
    val v = currentVersion(spark, root)
    if (v == 0L) return 8
    val f = fs(spark, root)
    val bytes = manifest(spark, root, v).filter(_.kind == "d")
      .map(e => entryBytes(f, root, e)).sum
    // production file-size goal; conf'd so deployments (and specs
    // proving multi-file layouts at fixture scale) can set their own
    val target = spark.conf
      .getOption("spark.graft.commit.targetFileBytes")
      .flatMap(v0 => scala.util.Try(v0.toLong).toOption)
      .filter(_ > 0).getOrElse(128L << 20)
    math.max(1, math.min(cap, ((bytes + target - 1) / target).toInt))
  }

  /** The arbiter: exclusive-create of `_commits/N.claim`. Local paths
    * use NIO O_EXCL (atomic in the kernel); remote filesystems use
    * `create(overwrite=false)`, which HDFS makes namenode-atomic.
    * Returns true iff THIS caller created the file. */
  private def tryClaim(f: FileSystem, root: String, v: Long): Boolean = {
    f.mkdirs(commitsDir(root))
    atomicCreate(f, new Path(commitsDir(root), s"$v.claim"))
  }

  private def atomicCreate(f: FileSystem, p: Path): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try { f.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** The commit record — its existence IS the commit. Uncontended: only
    * the holder of `N.claim` ever writes `N`. Re-verifies the claim AND
    * the referenced files first: if a concurrent `vacuum` reaped either
    * (this committer was paused past the vacuum age floor), the commit
    * ABORTS rather than minting a committed version with missing data.
    * On abort the claim, manifest and segment are cleaned up so later
    * committers skip the version. */
  private def publish(f: FileSystem, root: String, v: Long,
      entries: Seq[FileEntry], segs: Seq[Path], op: String,
      branchRef: Option[(String, Long)] = None): Unit = {
    def abort(reason: String): Nothing = {
      f.delete(new Path(manifestsDir(root), v.toString), false)
      f.delete(new Path(commitsDir(root), s"$v.claim"), false)
      f.delete(new Path(commitsDir(root), s"$v.op"), false)
      // release the claimed branch transition so the branch unwedges
      branchRef.foreach { case (b, base) =>
        f.delete(new Path(branchDir(root, b), s"tx-$base"), false) }
      segs.foreach(f.delete(_, true))
      throw CommitConflict(s"$reason at $root — aborting version $v")
    }
    if (!f.exists(new Path(commitsDir(root), s"$v.claim")))
      abort(s"claim $v was vacuumed mid-commit")
    if (!entries.forall(e => f.exists(new Path(root, e.path))))
      abort(s"a data file of version $v was vacuumed mid-commit")
    // advisory operation metadata (what kind of commit this was, for
    // t.history / operational forensics) lives in a SIBLING file
    // written BEFORE the commit becomes visible: the record itself is
    // never rewritten after atomicCreate, so (a) stores whose
    // overwrite-create is delete-then-create can't make a just-
    // committed version transiently invisible to versions(), and
    // (b) the record's mtime — the clock commitTime/expire-older-than
    // key off — is set once and never reset.
    try {
      val out = f.create(new Path(commitsDir(root), s"$v.op"), true)
      try out.write(op.getBytes("UTF-8")) finally out.close()
    } catch { case _: java.io.IOException => () } // advisory only
    val record = new Path(commitsDir(root), v.toString)
    require(atomicCreate(f, record),
      s"commit record $v already exists — claim protocol violated")
    // branch mode: advance the branch head — the nx pointer is written
    // only by the tx-<base> winner and only after the record is
    // visible, so resolution never points at an uncommitted version.
    // PAST THIS POINT THE VERSION IS COMMITTED in the global log: a
    // failure linking it must never read as "nothing happened".
    branchRef.foreach { case (b, base) =>
      val dir = branchDir(root, b)
      // re-verify our tx claim survived: vacuum reaps wedged tx
      // markers after the age floor, so a committer stalled that long
      // may have lost the claim to a NEW winner — writing our nx then
      // would fork the chain (duplicate `from`), which branchHead
      // refuses to resolve
      if (!f.exists(new Path(dir, s"tx-$base")))
        throw CommitConflict(
          s"version $v at $root IS committed in the global log, but " +
            s"its claimed transition tx-$base on '$b' was vacuumed " +
            s"(this committer stalled past the vacuum age floor) — " +
            s"the branch was NOT advanced. Do NOT re-submit the same " +
            s"data; fast-forward or MERGE the committed version in",
          committed = true)
      val nx = new Path(dir, s"nx-$base-$v")
      var attempt = 0
      while (!atomicCreate(f, nx) && !f.exists(nx)) {
        // atomicCreate=false with no file = transient IO failure (an
        // existing nx-<base>-<v> is OUR write — idempotent success)
        attempt += 1
        if (attempt > 4) throw new IllegalStateException(
          s"version $v at $root IS committed but linking $nx on " +
            s"'$b' failed $attempt times — the branch stays wedged " +
            s"on tx-$base until the nx is written; re-invoke later " +
            s"or let vacuum unwedge it. Do NOT re-submit the data")
        Thread.sleep(25L << attempt)
      }
    }
  }

  /** The advisory operation kind recorded at commit (`publish`), or
    * "-" for records that predate the field or lost the advisory
    * write. Reads the `N.op` sibling; falls back to the record's own
    * content for tables written before the sibling scheme. */
  def commitOperation(spark: SparkSession, root: String,
      v: Long): String = {
    val f = fs(spark, root)
    def readText(p: Path): Option[String] =
      try {
        val in = f.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        Some(text).filter(_.nonEmpty)
      } catch { case _: java.io.IOException => None }
    readText(new Path(commitsDir(root), s"$v.op"))
      .orElse(readText(new Path(commitsDir(root), v.toString)))
      .getOrElse("-")
  }

  /** Commit `df` as the next snapshot, REPLACING the table contents
    * (the new manifest lists only the new segment). Returns the
    * committed version. Prior versions stay readable until expiry.
    * Replacement derives from no prior state, so this is the one
    * operation that may SKIP past crashed claims instead of waiting
    * for vacuum to clear them. */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      maxRetries: Int = 5, clusterKey: Option[String] = None,
      files: Int = 8, bloomKey: Option[String] = None,
      zorderWith: Option[String] = None,
      zorderExtra: Seq[String] = Nil): Long = {
    val (seg, entries) = stageSegment(spark, root, df, clusterKey,
      if (clusterKey.isDefined) files else 0, bloomKey, zorderWith,
      zorderExtra)
    replaceStaged(spark, root, seg, entries, df.schema, maxRetries)
  }

  /** Publish an already-staged segment as a REPLACING snapshot (the
    * claim loop of [[commit]], shared with the DataSource V2 write
    * path's truncate-overwrite). */
  private[sources] def replaceStaged(spark: SparkSession, root: String,
      seg: Path, entries: Seq[FileEntry], schema: StructType,
      maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (attempt <= maxRetries) {
      val cur = currentVersion(spark, root)
      claimNextOn(f, root, "main", cur, cas = false) match {
        case Some(next) =>
          val stamped = entries.map(_.copy(seq = next))
          writeManifest(f, root, next, stamped, schema)
          publish(f, root, next, stamped, Seq(seg), op = "replace",
            branchRef = refIf(f, root, "main", cur))
          spark.catalog.refreshByPath(root)
          return next
        case None => attempt += 1
      }
    }
    f.delete(seg, true)
    throw CommitConflict(
      s"lost the version claim ${maxRetries + 1} times at $root")
  }

  /** APPEND `df` as new files of the next snapshot: every file of the
    * current version carries over BY REFERENCE — none is read, copied
    * or touched. This is the O(batch) ingest path a table format
    * exists for. With `clusterKey` the new segment is range-clustered
    * and per-file stats recorded, feeding MERGE's file pruning.
    *
    * An append DERIVES from the current manifest, so it must commit as
    * exactly currentVersion + 1 (CAS): claiming past an interleaved
    * commit would publish a manifest missing that commit's files — a
    * lost update. On losing the race the loser re-reads the new
    * current manifest and retries with the SAME staged segment (the
    * new files don't depend on the base version, so nothing is
    * re-staged). A crashed claim squatting on currentVersion + 1
    * blocks CAS commits until `vacuum` reaps it — the same liveness
    * contract as a table format whose catalog holds a dead lease. */
  def append(spark: SparkSession, root: String, df: DataFrame,
      clusterKey: Option[String] = None, files: Int = 8,
      maxRetries: Int = 5, bloomKey: Option[String] = None,
      branch: String = "main",
      txn: Option[(String, Long)] = None): Long = {
    val inherited = bloomKey.orElse {
      val cur0 =
        if (branch == "main") currentVersion(spark, root)
        else branchHead(spark, root, branch)
      if (cur0 == 0L) None
      else tableBloomKey(readManifest(spark, root, cur0))
    }
    val (seg, entries) =
      stageSegment(spark, root, df, clusterKey, files,
        bloomFor(df, inherited))
    // idempotent-writer marker, same contract as appendBucketed /
    // appendPartitioned: rides the manifest entries, atomic with the
    // commit (see lastCommittedTxn)
    val marked = txn.fold(entries) { case (app, batch) =>
      entries.map(e => e.copy(extraStats = e.extraStats :+
        (s"__txn:$app", batch.toString, batch.toString)))
    }
    appendStaged(spark, root, seg, marked, df.schema, maxRetries,
      branch)
  }

  /** Publish an already-staged segment as an APPEND commit (the CAS
    * loop of [[append]], shared with the DataSource V2 write path —
    * whose files are written by executor tasks before the driver
    * lands the commit here). */
  private[sources] def appendStaged(spark: SparkSession, root: String,
      seg: Path, entries: Seq[FileEntry], batchSchema: StructType,
      maxRetries: Int = 5, branch: String = "main"): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur =
        if (branch == "main") currentVersion(spark, root)
        else branchHead(spark, root, branch)
      val (priorEntries, priorSchema) =
        if (cur == 0) (Seq.empty[FileEntry], None)
        else readManifestFull(spark, root, cur)
      val all = priorEntries ++ entries
      // appending is the evolution path: batch-only columns extend the
      // table schema, prior columns the batch lacks read NULL
      val schema =
        if (cur == 0) batchSchema
        else evolveSchema(
          priorSchemaOrRead(spark, root, cur, priorSchema), batchSchema)
      claimNextOn(f, root, branch, cur) match { case Some(target) =>
        val stamped = all.map(e =>
          if (e.seq == 0L) e.copy(seq = target) else e)
        writeManifest(f, root, target, stamped, schema,
          parent = cur)
        publish(f, root, target, stamped, Seq(seg), op = "append",
          branchRef = refIf(f, root, branch, cur))
        spark.catalog.refreshByPath(root)
        if (branch == "main") maybeAutoAnalyze(spark, root)
        return target
      case None => () }
      attempt += 1
      if (attempt > maxRetries) {
        f.delete(seg, true)
        throw CommitConflict(
          s"lost the append race ${maxRetries + 1} times at $root")
      }
      // an append CAS-targets exactly cur+1, so a loser cannot make
      // progress until the winner PUBLISHES — without a pause the
      // retry budget burns in microseconds while the winner is still
      // writing its manifest (milliseconds). Linear backoff, bounded.
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish an already-staged segment as a COPY-ON-WRITE group
    * replacement: the next manifest carries every current file EXCEPT
    * `removedPaths` (the groups a row-level operation read and
    * rewrote) plus the staged entries. This is the commit half of the
    * DSv2 row-level path (SQL UPDATE / MERGE INTO / group-based
    * DELETE) — the scan half records exactly which files it planned,
    * and correctness requires removing precisely those.
    *
    * Isolation is SNAPSHOT-level, validated at commit (the Iceberg
    * COW rule): (1) every file this operation read-and-rewrote must
    * still be listed in the current manifest — a concurrent commit
    * that rewrote or dropped one of them made our output stale, so
    * the commit ABORTS with [[CommitConflict]] instead of silently
    * losing that commit's update; (2) no tombstone newer than the
    * version this operation READ may exist — our replacement rows
    * take the new commit's sequence number, so a concurrent
    * merge-on-read delete's tombstone could no longer kill them and
    * deleted rows would resurrect. Concurrent plain APPENDS are
    * compatible and carry over untouched (their files are disjoint
    * from any read group). Unlike MERGE's re-derive loop, a conflict
    * here cannot re-run the work — the rewritten rows were computed
    * by a Spark job this layer cannot replay — so the caller (Spark's
    * ReplaceData exec) surfaces the conflict and the user re-runs the
    * statement against the new snapshot. */
  private[sources] def replaceFilesStaged(spark: SparkSession,
      root: String, seg: Path, entries: Seq[FileEntry],
      removedPaths: Set[String], baseVersion: Long,
      batchSchema: StructType, maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    def fail(e: RuntimeException): Nothing = {
      f.delete(seg, true)
      throw e
    }
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      if (cur == 0L) fail(new IllegalStateException(
        s"row-level replace on an uncommitted table at $root"))
      val (priorEntries, priorSchema) = readManifestFull(spark, root, cur)
      val live = priorEntries.map(_.path).toSet
      val gone = removedPaths.filterNot(live)
      if (gone.nonEmpty) fail(CommitConflict(
        s"row-level operation read version $baseVersion but " +
          s"${gone.size} of its files were rewritten by a concurrent " +
          s"commit at $root — re-run against the current snapshot"))
      if (priorEntries.exists(e => e.kind == "t" && e.seq > baseVersion))
        fail(CommitConflict(
          s"a concurrent merge-on-read delete landed after version " +
            s"$baseVersion at $root — its tombstone cannot apply to " +
            "rewritten rows; re-run against the current snapshot"))
      val carried = priorEntries.filterNot(e => removedPaths(e.path))
      val schema = evolveSchema(
        priorSchemaOrRead(spark, root, cur, priorSchema), batchSchema)
      claimNextOn(f, root, "main", cur) match { case Some(target) =>
        val stamped = (carried ++ entries).map(e =>
          if (e.seq == 0L) e.copy(seq = target) else e)
        writeManifest(f, root, target, stamped, schema,
          parent = cur)
        publish(f, root, target, stamped, Seq(seg), op = "rewrite",
          branchRef = refIf(f, root, "main", cur))
        spark.catalog.refreshByPath(root)
        return target
      case None => () }
      attempt += 1
      if (attempt > maxRetries) fail(CommitConflict(
        s"lost the row-level commit race ${maxRetries + 1} times at $root"))
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish a staged MERGE-ON-READ delta: new data files (inserts +
    * update replacements) plus a key-tombstone segment, appended to
    * the current manifest — zero existing files read or rewritten,
    * the O(batch) commit the `write.*.mode=merge-on-read` table
    * properties ask for (the reference sets exactly these on its
    * Iceberg table, `services/streaming-service/api.py:235-238`).
    * The sequence rule gives the semantics: the tombstone kills only
    * strictly-older rows with its keys, so this commit's own
    * replacement rows survive while every older copy dies. A commit
    * here derives only ADDITIVELY from the current manifest, so the
    * CAS loop retries like [[appendStaged]] — no re-derivation needed
    * on conflict. Either segment may be absent (delete-only commits
    * stage no data; provably-insert-only batches could stage no
    * tombstone). */
  private[sources] def appendDeltaStaged(spark: SparkSession,
      root: String, segs: Seq[Path], dataEntries: Seq[FileEntry],
      tombEntries: Seq[FileEntry], key: String,
      batchSchema: StructType, maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      if (cur == 0L) {
        segs.foreach(f.delete(_, true))
        throw new IllegalStateException(
          s"merge-on-read delta on an uncommitted table at $root")
      }
      val (priorEntries, priorSchema) = readManifestFull(spark, root, cur)
      try requireTombKey(priorEntries, key, root)
      catch { case e: Throwable =>
        segs.foreach(f.delete(_, true)); throw e
      }
      val all = priorEntries ++
        tombEntries.map(_.copy(kind = "t")) ++ dataEntries
      val schema = evolveSchema(
        priorSchemaOrRead(spark, root, cur, priorSchema), batchSchema)
      claimNextOn(f, root, "main", cur) match { case Some(target) =>
        val stamped = all.map(e =>
          if (e.seq == 0L) e.copy(seq = target) else e)
        writeManifest(f, root, target, stamped, schema,
          parent = cur)
        publish(f, root, target, stamped, segs, op = "delta",
          branchRef = refIf(f, root, "main", cur))
        spark.catalog.refreshByPath(root)
        return target
      case None => () }
      attempt += 1
      if (attempt > maxRetries) {
        segs.foreach(f.delete(_, true))
        throw CommitConflict(
          s"lost the delta commit race ${maxRetries + 1} times at $root")
      }
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit `df` HASH-BUCKETED on `key` into `buckets` buckets — the
    * layout behind storage-partitioned joins: every file belongs to
    * exactly one bucket (`pmod(murmur3(key), buckets)`, recorded in
    * the manifest), so a scan can report `KeyGroupedPartitioning` and
    * two tables bucketed the same way JOIN WITH ZERO SHUFFLE — the
    * bucket id IS the partition key, and Spark aligns partitions
    * instead of exchanging 2×O(table) bytes (Iceberg's SPJ; at 100 TB
    * the single biggest join cost simply disappears for co-bucketed
    * fact tables). Within each bucket, per-file min/max on `key`
    * still record, so range pruning works too. The bucket function is
    * Spark's own murmur3 (seed 42) — the catalog exposes it as the V2
    * `bucket` function so the planner can verify both sides used the
    * same one. Bucket layout is declared in the table properties;
    * maintenance that rewrites files unbucketed (compact, COW merge)
    * must clear or re-establish it — enforced by the scan, which only
    * reports the partitioning when EVERY kept file carries a bucket
    * id. */
  def commitBucketed(spark: SparkSession, root: String, df: DataFrame,
      key: String, buckets: Int, maxRetries: Int = 5): Long =
    commitBucketedOn(spark, root, df, Seq(key -> buckets), maxRetries)

  /** COMPOSITE (grid) bucket layout: each key gets its OWN
    * per-column bucket transform (`pmod(murmur3(k_i), n_i)`), and a
    * file belongs to one grid CELL — the tuple of its per-key bucket
    * ids. The scan then reports `KeyGroupedPartitioning(bucket(n1,
    * k1), bucket(n2, k2), ...)`, the only shape Spark's SPJ machinery
    * accepts (its partitioning validator requires single-argument
    * transforms — a single hash over the tuple can never align), so a
    * join on the full key tuple runs with ZERO exchange. Total cells
    * = product of the per-key counts; the properties record both
    * comma-joined lists, and single-key tables keep the old property
    * shape verbatim. */
  def commitBucketedOn(spark: SparkSession, root: String, df: DataFrame,
      keys: Seq[(String, Int)], maxRetries: Int = 5,
      txn: Option[(String, Long)] = None): Long = {
    require(keys.nonEmpty, "bucket keys must be non-empty")
    require(keys.forall(!_._1.contains(",")),
      s"bucket key names cannot contain ',': ${keys.map(_._1).mkString(";")}")
    val (seg, stamped0) = stageBucketed(spark, root, df, keys)
    // replay-guard marker on a replacing commit — see commitPartitionedOn
    val stamped = txn.fold(stamped0) { case (app, batch) =>
      stamped0.map(e => e.copy(extraStats = e.extraStats :+
        (s"__txn:$app", batch.toString, batch.toString)))
    }
    val v = replaceStaged(spark, root, seg, stamped, df.schema,
      maxRetries)
    setProperties(spark, root, tableProperties(spark, root) ++ Map(
      "graft.bucket.key" -> keys.map(_._1).mkString(","),
      "graft.bucket.count" -> keys.map(_._2).mkString(",")))
    v
  }

  /** Parse the comma-joined bucket-layout properties back to
    * (key, count) pairs; a legacy single-count property applies the
    * one count to every key. */
  private[graft] def bucketLayoutOf(
      props: Map[String, String]): Option[Seq[(String, Int)]] =
    for {
      k <- props.get("graft.bucket.key")
      c <- props.get("graft.bucket.count")
      ks = k.split(',').toSeq
      cs <- scala.util.Try(c.split(',').toSeq.map(_.toInt)).toOption
      if cs.nonEmpty && (cs.length == ks.length || cs.length == 1)
    } yield ks.zip(
      if (cs.length == 1) Seq.fill(ks.length)(cs.head) else cs)

  /** APPEND a batch INTO the table's declared bucket layout: new
    * files land in their buckets (same function, same count — read
    * from the table properties), so the scan keeps reporting
    * `KeyGroupedPartitioning` and storage-partitioned joins survive
    * ingest. A plain `append` to a bucketed table is still legal but
    * adds bucket-less files, which degrades the scan to unknown
    * partitioning until compaction re-buckets. */
  def appendBucketed(spark: SparkSession, root: String, df: DataFrame,
      maxRetries: Int = 5, txn: Option[(String, Long)] = None): Long = {
    val props = tableProperties(spark, root)
    val layout = bucketLayoutOf(props).getOrElse(
      throw new IllegalArgumentException(
        s"appendBucketed: $root has no bucket layout " +
          "(commitBucketed first)"))
    val (seg, stamped) = stageBucketed(spark, root, df, layout)
    // the idempotence marker rides the manifest entries, so it commits
    // atomically WITH the data (see lastCommittedTxn)
    val marked = txn.fold(stamped) { case (app, batch) =>
      stamped.map(e => e.copy(extraStats = e.extraStats :+
        (s"__txn:$app", batch.toString, batch.toString)))
    }
    appendStaged(spark, root, seg, marked, df.schema, maxRetries)
  }

  /** The highest writer-transaction id committed for `appId`, or None
    * — the idempotent-append handshake (Delta's txnAppId/txnVersion,
    * Iceberg's snapshot summary): a restarted streaming query replays
    * its last micro-batch with the SAME batch id, reads this, and
    * skips batches it already landed. The marker is stamped on the
    * batch's manifest entries ([[appendBucketed]]'s `txn`), so it is
    * atomic with the commit — no window where data landed but the
    * marker didn't. Caveat, documented not hidden: markers live on
    * FILE entries, so maintenance that rewrites files (compact, COW
    * merge) retires them with the files they rode in on — run such
    * maintenance with the stream stopped, or accept at-least-once for
    * the one in-flight batch across that window. */
  def lastCommittedTxn(spark: SparkSession, root: String,
      appId: String): Option[Long] = {
    val v = currentVersion(spark, root)
    if (v == 0L) return None
    val key = s"__txn:$appId"
    val ids = manifest(spark, root, v)
      .flatMap(_.statsFor(key)).map(_._1.toLong)
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** IDENTITY partitioning (Iceberg's `PARTITIONED BY (col)`): every
    * data file holds exactly ONE value of `key` — the manifest then
    * records min == max per file, so (a) partition pruning is EXACT,
    * (b) `GROUP BY key` is answerable from the manifest alone (zero
    * data IO — at 100 TB, "rows per day" over a petabyte becomes a
    * metadata read), and (c) the scan reports
    * `KeyGroupedPartitioning(identity(key))`, so same-partitioned
    * tables join and aggregate with zero exchange. Unlike Hive/Iceberg
    * the partition column stays IN the data files (the value
    * directory is a write-time splitting device, not the value's
    * storage), so every reader — row, columnar, time travel, MOR —
    * works unchanged. NULL partition values are refused, like the
    * bucket layout: the layout has no partition for NULL. */
  def commitPartitioned(spark: SparkSession, root: String,
      df: DataFrame, key: String, maxRetries: Int = 5): Long =
    commitPartitionedOn(spark, root, df, Seq(key), maxRetries)

  /** COMPOSITE identity partitioning (`PARTITIONED BY (a, b)`): every
    * data file holds exactly ONE value TUPLE of `keys` — the standard
    * 100 TB layout (date × tenant). Files are value-pure on EVERY
    * key, so pruning on ANY of the columns is exact, `GROUP BY a, b`
    * (or any subset) answers from the manifest alone, and the scan
    * reports one identity transform per key for zero-exchange
    * storage-partitioned joins. Key ORDER is the declaration order —
    * it fixes the directory nesting at write time, nothing else. */
  def commitPartitionedOn(spark: SparkSession, root: String,
      df: DataFrame, keys: Seq[String], maxRetries: Int = 5,
      txn: Option[(String, Long)] = None): Long = {
    val (seg, entries) = stagePartitioned(spark, root, df, keys)
    // an idempotent-writer marker on a REPLACING commit: a streaming
    // maintainer that compacts/purges its own table mid-stream keeps
    // its replay guard across the replace (markers on the replaced
    // files would be gone)
    val marked = txn.fold(entries) { case (app, batch) =>
      entries.map(e => e.copy(extraStats = e.extraStats :+
        (s"__txn:$app", batch.toString, batch.toString)))
    }
    val v = replaceStaged(spark, root, seg, marked, df.schema,
      maxRetries)
    setProperties(spark, root, tableProperties(spark, root) +
      ("graft.partition.key" -> keys.mkString(",")))
    v
  }

  /** APPEND a batch INTO the table's declared identity-partition
    * layout: new files land value-pure (one partition value per
    * file), so manifest GROUP BY answers and storage-partitioned
    * joins survive ingest. A plain `append` stays legal but adds
    * value-impure files, degrading both to ordinary scans until
    * compaction re-partitions. */
  def appendPartitioned(spark: SparkSession, root: String,
      df: DataFrame, maxRetries: Int = 5,
      txn: Option[(String, Long)] = None): Long = {
    val keys = partitionKeysOf(tableProperties(spark, root))
    require(keys.nonEmpty,
      s"appendPartitioned: $root has no identity-partition layout " +
        "(commitPartitioned first)")
    val (seg, entries) = stagePartitioned(spark, root, df, keys)
    val marked = txn.fold(entries) { case (app, batch) =>
      entries.map(e => e.copy(extraStats = e.extraStats :+
        (s"__txn:$app", batch.toString, batch.toString)))
    }
    appendStaged(spark, root, seg, marked, df.schema, maxRetries)
  }

  /** The declared identity-partition columns, in declaration order —
    * empty when the table has no identity layout. The property value
    * is the comma-joined column list (single-column tables keep the
    * exact value they always had). */
  private[graft] def partitionKeysOf(
      props: Map[String, String]): Seq[String] =
    props.get("graft.partition.key").toSeq
      .flatMap(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))

  /** PARTITION-SPEC EVOLUTION (Iceberg's headline metadata feature):
    * change the table's identity layout GOING FORWARD — a metadata-
    * only property edit, zero files rewritten. `keys` empty drops the
    * layout. Sound by the per-file design: nothing in this engine
    * trusts the DECLARATION — every reader (pruning, consumed
    * filters, manifest GROUP BY, the SPJ report) verifies value
    * purity from each file's OWN recorded stats — so after an
    * evolution,
    *  - old files keep their layout and keep pruning on the OLD keys,
    *  - new writes land pure on the NEW keys and prune on those,
    *  - manifest aggregates still answer whenever EVERY file is pure
    *    on the queried columns (e.g. evolving (day) → (day, tenant)
    *    keeps `GROUP BY day` a zero-IO metadata read across the
    *    boundary, because both eras are day-pure), and decline to the
    *    exact scan otherwise,
    *  - the SPJ partitioning report declines until every kept file is
    *    pure on the full new tuple — `compact()` restages the whole
    *    table into the current spec and restores it.
    * The validations mirror CREATE: columns must exist, be
    * partitionable types, distinct, and not coexist with a bucket
    * grid. SQL surface: `ALTER TABLE t SET TBLPROPERTIES
    * ('graft.partition.key' = 'a,b')` (validated by the catalog
    * through this method) or UNSET to drop. */
  def evolvePartitioning(spark: SparkSession, root: String,
      keys: Seq[String]): Unit = {
    val cur = currentVersion(spark, root)
    require(cur > 0L, s"no committed version at $root")
    val props = tableProperties(spark, root)
    require(keys.isEmpty || bucketLayoutOf(props).isEmpty,
      "a table is laid out by hash buckets OR identity partition " +
        "columns, not both")
    val (_, recorded) = readManifestFull(spark, root, cur)
    val schema = priorSchemaOrRead(spark, root, cur, recorded)
    val resolved = keys.map(k => schema.fields
      .find(_.name.equalsIgnoreCase(k))
      .getOrElse(throw new IllegalArgumentException(
        s"partition column '$k' is not in the table schema at $root")))
    resolved.foreach(fd => require(partitionableType(fd.dataType),
      s"identity partitioning does not support ${fd.dataType
        .simpleString} keys (int/long/short/byte/string/date)"))
    require(resolved.map(_.name.toLowerCase(java.util.Locale.ROOT))
      .distinct.size == resolved.size,
      "each column may appear at most once in the partition spec")
    if (resolved.isEmpty)
      setProperties(spark, root, props - "graft.partition.key")
    else setProperties(spark, root, props +
      ("graft.partition.key" -> resolved.map(_.name).mkString(",")))
  }

  /** Identity-partition types: exactly the grouping/pruning domain —
    * the manifest's string-rendered stats must round-trip the value
    * losslessly and order correctly under [[statOrdering]]. */
  private[graft] def partitionableType(dt: DataType): Boolean =
    dt match {
      case IntegerType | LongType | ShortType | ByteType |
           StringType | DateType => true
      case _ => false
    }

  /** Stage `df` as a VALUE-PURE segment: one hash repartition on the
    * key tuple co-locates same-tuple rows, then each task writes one
    * file per distinct tuple it sees, so every file holds one value
    * of every key (its min == max stats record it). NULL keys refuse
    * with an IllegalArgumentException, the segment deleted and
    * nothing committed. */
  private[sources] def stagePartitioned(spark: SparkSession,
      root: String, df: DataFrame, keys: Seq[String])
  : (Path, Seq[FileEntry]) = {
    require(keys.nonEmpty, "identity partitioning needs a key")
    val schema = df.schema
    val fields = keys.map(k => schema.fields
      .find(_.name.equalsIgnoreCase(k))
      .getOrElse(throw new IllegalArgumentException(
        s"partition key '$k' is not a column of the batch")))
    fields.foreach(field =>
      require(partitionableType(field.dataType),
        s"identity partitioning does not support ${field.dataType
          .simpleString} keys (int/long/short/byte/string/date)"))
    val seg = newSegmentPath(root)
    val segStr = seg.toString
    val schemaJson = schema.json
    val keyIdxs = fields.map(fd => schema.fields.indexOf(fd))
    // first key: the primary stats slot (value-pure min == max plus
    // the null count); tail keys: extraStats ranges — statsFor reads
    // both, so pruning and purity checks see every key
    val names = fields.map(_.name)
    val spec = inlineStatsSpec(spark, schema, names.headOption, None,
      names.tail)
    val NullKey = connector.GraftPartitionedAppendWriter.NullKeyMessage
    val written =
      try stageFiles(spark, root, seg,
        df.repartition(fields.map(fd => col(bq(fd.name))): _*),
        "graft_stage_partitioned") { (hc, pid, attempt) =>
        new connector.GraftPartitionedAppendWriter(segStr, schemaJson,
          keyIdxs, pid, attempt, spec, hc)
      } catch {
        // surface the NULL-key refusal as the API-level
        // IllegalArgumentException callers (and specs) rely on
        case e: Throwable if Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains(NullKey))) =>
          throw new IllegalArgumentException(NullKey)
      }
    (seg, stagedEntries(seg, written, names.headOption, None,
      partitionTail = names.tail))
  }

  /** The grid-cell id of a key tuple: per-key `pmod(murmur3(k_i),
    * n_i)` folded positionally (`((b1)*n2 + b2)*n3 + ...`) — each
    * per-key bucket is recoverable from the cell id and the counts,
    * so the manifest stores ONE id per file and the scan decomposes
    * it back to the partition-key tuple. Single key: cell == bucket,
    * the exact layout every pre-grid table already has on disk. */
  private[graft] def gridCell(keys: Seq[(String, Int)])
  : org.apache.spark.sql.Column =
    keys.map { case (k, n) => pmod(hash(col(k)), lit(n)) }
      .zip(keys.map(_._2))
      .reduceLeft[(org.apache.spark.sql.Column, Int)] {
        case ((acc, _), (b, n)) => (acc * n + b, n)
      }._1

  private[graft] def gridDecompose(cell: Int,
      counts: Seq[Int]): Seq[Int] = {
    var c = cell
    val out = new Array[Int](counts.length)
    var i = counts.length - 1
    while (i >= 0) {
      out(i) = c % counts(i)
      c /= counts(i)
      i -= 1
    }
    out.toSeq
  }

  /** Stage `df` into a bucket grid: rows hash-partition on their
    * [[gridCell]] and each task writes one file per cell it sees,
    * recording per-key ranges and null counts, NDV registers and the
    * cell in the `__bucket` slot. The cell comes from Spark's own
    * hash, so NULL keys and every hashable key type bucket. */
  private def stageBucketed(spark: SparkSession, root: String,
      df: DataFrame, keys: Seq[(String, Int)])
  : (Path, Seq[FileEntry]) = {
    require(keys.forall(_._2 > 0), "buckets must be positive")
    val schema = df.schema
    keys.foreach { case (k, _) =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(k)),
        s"bucket key '$k' is not a column of the batch") }
    val seg = newSegmentPath(root)
    val segStr = seg.toString
    val schemaJson = schema.json
    val spec = inlineStatsSpec(spark, schema, Some(keys.head._1), None,
      keys.tail.map(_._1))
    // the cell rides as a TRAILING column the writer strips, so no
    // key column is projected away
    val cellIdx = schema.length
    val written = stageFiles(spark, root, seg,
      df.withColumn("__b", gridCell(keys))
        .repartition(keys.map(_._2).product, col("__b")),
      "graft_stage_bucketed") { (hc, pid, attempt) =>
      new connector.GraftBucketedAppendWriter(segStr, schemaJson, Nil,
        pid, attempt, spec, hc, cellIdx)
    }
    (seg, stagedEntries(seg, written, Some(keys.head._1), None))
  }

  // ---- table properties ----
  // A tiny key→value side file (`_properties`), the TBLPROPERTIES
  // surface: the catalog persists `write.*` / `graft.*` keys at CREATE
  // TABLE, and the row-level path reads `write.delete.mode` /
  // `write.update.mode` / `write.merge.mode` = merge-on-read to choose
  // delta commits over copy-on-write — the same knobs the reference
  // sets on its Iceberg table. Properties are table METADATA, not
  // versioned state: they steer future writes, never reads.

  private def propsPath(root: String) = new Path(root, "_properties")

  def setProperties(spark: SparkSession, root: String,
      props: Map[String, String]): Unit = {
    val f = fs(spark, root)
    val out = f.create(propsPath(root), true)
    try out.write(props.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${b64(k)}\t${b64(v)}" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  // ---- tags (named versions) ----
  // A `_tags` side file maps names to committed versions — Iceberg's
  // TAG refs on the manifest protocol. The operational point is
  // dataset reproducibility: tag the snapshot a training run consumed
  // (`tag(root, "run-2024-06", v)`), read it back by name forever
  // (`VERSION AS OF 'run-2024-06'`), and expiry REFUSES to reap a
  // tagged version, so the name keeps resolving no matter how much
  // history retention drops. Tag writes are metadata-only
  // read-modify-write on the side file (same single-writer caveat as
  // setProperties — tag maintenance is an operator action, not a data
  // path).

  private def tagsPath(root: String) = new Path(root, "_tags")

  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val f = fs(spark, root)
    if (!f.exists(tagsPath(root))) return Map.empty
    val in = f.open(tagsPath(root))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    text.split('\n').filter(_.nonEmpty).map { line =>
      val Array(k, v) = line.split('\t')
      unb64(k) -> unb64(v).toLong
    }.toMap
  }

  /** Name `version`. Numeric-looking names are refused — `VERSION AS
    * OF 3` must always mean version 3, never a tag that shadows it.
    * Re-tagging an existing name moves it (documented overwrite). */
  def tag(spark: SparkSession, root: String, name: String,
      version: Long): Unit = {
    require(name.nonEmpty && !name.forall(_.isDigit) &&
      !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"bad tag name '$name' (non-empty, not all digits, no tabs or " +
        "newlines)")
    // mirror of createBranch's tag check: loadTable resolves tags
    // BEFORE branches, so a tag shadowing a live branch would silently
    // freeze `VERSION AS OF '<name>'` at the tag — refuse instead
    require(!branches(spark, root).contains(name),
      s"'$name' is already a branch at $root — one namespace resolves " +
        "VERSION AS OF names")
    require(versions(spark, root).contains(version),
      s"version $version is not committed at $root")
    writeTags(spark, root, tags(spark, root) + (name -> version))
  }

  def dropTag(spark: SparkSession, root: String,
      name: String): Boolean = {
    val cur = tags(spark, root)
    if (!cur.contains(name)) return false
    writeTags(spark, root, cur - name)
    true
  }

  private def writeTags(spark: SparkSession, root: String,
      all: Map[String, Long]): Unit = {
    val f = fs(spark, root)
    if (all.isEmpty) { f.delete(tagsPath(root), false); return }
    val out = f.create(tagsPath(root), true)
    try out.write(all.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${b64(k)}\t${b64(v.toString)}" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  // ---- branches (refs) ----
  // Git-style BRANCHES over the ONE shared commit log (Iceberg's
  // branch refs on the manifest protocol): every commit still claims
  // a global version slot, but each branch resolves its own HEAD
  // through name-encoded marker files under `_refs/<branch>/`:
  //
  //   base-<V>      the branch was (re)based at version V — the
  //                 LARGEST V wins (fast-forward rebases append one)
  //   tx-<H>        the transition FROM head H is claimed. atomic
  //                 exclusive-create, the SAME primitive as commit
  //                 claims — exactly one committer ever advances a
  //                 branch from a given head (per-branch CAS).
  //   nx-<H>-<N>    the claimed transition leads to version N.
  //                 Written by the tx-<H> winner only, AFTER commit N
  //                 is visible, so every nx target was committed.
  //
  // head(branch) = start at the newest base, follow nx pointers. The
  // walk reads MARKERS only — expiring an interior version's record
  // never breaks resolution (only heads and bases must stay readable,
  // and retention pins exactly those). Slots grow monotonically, so
  // nx chains cannot cycle. Until `createBranch` first runs, no
  // `_refs` dir exists and every code path behaves exactly as before
  // (the plain linear cur+1 CAS).
  //
  // Enabling branches is a ONE-TIME administrative step, like a table
  // format's protocol upgrade: a plain-protocol commit racing the
  // very first `createBranch` can land a version the freshly-written
  // main base does not see (the enabler re-absorbs stragglers, but
  // the window is not closed). Quiesce writers for that first call;
  // after it, every path is serialized by the tx claims.
  private def refsDir(root: String) = new Path(root, "_refs")
  private def branchDir(root: String, b: String) =
    new Path(refsDir(root), b)

  private def branchesEnabled(f: FileSystem, root: String): Boolean =
    f.exists(refsDir(root))

  /** All branch names (incl. "main" once branching is enabled). */
  def branches(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    if (!branchesEnabled(f, root)) Seq.empty
    else f.listStatus(refsDir(root)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  private def branchMarkers(f: FileSystem, root: String,
      b: String): Seq[String] = {
    val dir = branchDir(root, b)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
  }

  /** The branch's (re)base point: the newest base marker. */
  def branchBase(spark: SparkSession, root: String, b: String): Long = {
    val bases = branchMarkers(fs(spark, root), root, b)
      .collect { case s if s.startsWith("base-") =>
        s.stripPrefix("base-").toLong }
    require(bases.nonEmpty, s"no branch '$b' at $root")
    bases.max
  }

  /** Resolve a branch head: newest base, then follow nx pointers. */
  def branchHead(spark: SparkSession, root: String, b: String): Long = {
    val f = fs(spark, root)
    val markers = branchMarkers(f, root, b)
    if (markers.isEmpty) {
      if (b == "main")
        return versions(spark, root).lastOption.getOrElse(0L)
      throw new IllegalArgumentException(
        s"no branch '$b' at $root (branches: " +
          s"${branches(spark, root).mkString(",")})")
    }
    val bases = markers.collect { case s if s.startsWith("base-") =>
      s.stripPrefix("base-").toLong }
    require(bases.nonEmpty,
      s"branch '$b' at $root is mid-creation (no base marker yet) — " +
        "retry; if its writer crashed, re-run createBranch (which " +
        "completes a crashed creation) or clear it with dropBranch")
    val base = bases.max
    val nxPairs = markers.collect { case s if s.startsWith("nx-") =>
      val Array(from, to) = s.stripPrefix("nx-").split('-')
      from.toLong -> to.toLong }
    // a duplicate `from` is a FORKED chain (two committers published
    // from the same head — only possible if a stalled committer's tx
    // claim was vacuumed out from under it). Resolving to either
    // target silently would be nondeterministic; fail loudly instead.
    val forked = nxPairs.groupBy(_._1)
      .filter(_._2.map(_._2).distinct.size > 1)
    require(forked.isEmpty,
      s"branch '$b' at $root has forked transitions: " +
        forked.toSeq.sortBy(_._1).map { case (fr, tos) =>
          s"$fr->{${tos.map(_._2).distinct.sorted.mkString(",")}}"
        }.mkString("; ") +
        " — a stalled committer published after its tx claim was " +
        "vacuumed. Delete the nx marker of the losing target to heal")
    val nx = nxPairs.toMap
    var head = base
    while (nx.contains(head)) head = nx(head)
    head
  }

  /** Create branch `name` from `from` (default: current main head).
    * The first call enables branching: main's own ref is initialized
    * at the current version so existing readers keep their view. */
  def createBranch(spark: SparkSession, root: String, name: String,
      from: Option[Long] = None): Long = {
    require(name.nonEmpty && name != "main" && !name.forall(_.isDigit) &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"bad branch name '$name' (letters/digits/-/_, not all digits, " +
        "not 'main')")
    require(!tags(spark, root).contains(name),
      s"'$name' is already a tag at $root — one namespace resolves " +
        "VERSION AS OF names")
    val f = fs(spark, root)
    if (branchMarkers(f, root, "main").isEmpty) {
      val cur = versions(spark, root).lastOption.getOrElse(0L)
      require(cur > 0L, s"cannot branch an uncommitted table at $root")
      f.mkdirs(branchDir(root, "main"))
      atomicCreate(f, new Path(branchDir(root, "main"), s"base-$cur"))
      // absorb plain-protocol commits that landed while enabling
      val latest = versions(spark, root).last
      if (latest > cur)
        atomicCreate(f, new Path(branchDir(root, "main"), s"base-$latest"))
    }
    val at = from.getOrElse(branchHead(spark, root, "main"))
    require(versions(spark, root).contains(at),
      s"version $at is not committed at $root")
    val dir = branchDir(root, name)
    val markers = branchMarkers(f, root, name)
    // ONLY the creation sentinel present = a createBranch crashed
    // between its two writes; re-running COMPLETES the creation
    // rather than wedging behind "already exists". Any other residue
    // (nx-/tx- markers from a crashed dropBranch's partial recursive
    // delete) is NOT recoverable this way — installing a fresh base
    // could resolve through a stale nx chain into the dropped
    // generation; dropBranch again instead.
    val crashedCreation =
      markers.nonEmpty && markers.forall(_ == "created")
    require(markers.isEmpty || crashedCreation,
      if (markers.exists(_.startsWith("base-")))
        s"branch '$name' already exists at $root"
      else
        s"branch '$name' at $root holds residue of a partially " +
          s"deleted branch (${markers.mkString(",")}) — run " +
          "dropBranch again to clear it before re-creating")
    f.mkdirs(dir)
    // the sentinel's exclusive create IS the creation point: two
    // concurrent createBranch calls can both pass the marker check
    // and both mkdirs, but exactly one wins this create — the loser
    // fails instead of silently contributing a second base-<V> that
    // max() would then ignore
    if (!crashedCreation)
      require(atomicCreate(f, new Path(dir, "created")),
        s"branch '$name' already exists at $root (lost a concurrent " +
          "createBranch race)")
    atomicCreate(f, new Path(dir, s"base-$at"))
    if (crashedCreation) {
      // two recoverers may have completed with DIFFERENT from-points;
      // fail loudly rather than let max(base) silently pick one —
      // and RETRACT our own marker first, so the survivor's returned
      // base is not superseded behind its back
      val bases = branchMarkers(f, root, name)
        .count(_.startsWith("base-"))
      if (bases > 1) {
        f.delete(new Path(dir, s"base-$at"), false)
        throw CommitConflict(
          s"concurrent recovery of crashed branch '$name' at $root " +
            s"installed $bases base markers — this recoverer " +
            "retracted its own; if the branch is still baseless, " +
            "re-run createBranch")
      }
    }
    at
  }

  /** Delete a branch ref. The versions it reached stay in the log but
    * lose their retention pin — expiry may then reap them. */
  def dropBranch(spark: SparkSession, root: String,
      name: String): Boolean = {
    require(name != "main", "cannot drop main")
    val f = fs(spark, root)
    val dir = branchDir(root, name)
    if (!f.exists(dir)) false else f.delete(dir, true)
  }

  /** FAST-FORWARD merge of `branch` into `into` (default main): legal
    * iff `into`'s head equals the branch's base — `into` has not moved
    * since the fork, so the branch's history is a strict extension and
    * the merge is a pointer jump (no new commit, no data IO). A
    * diverged target is REFUSED with the remedy; merging diverged
    * histories is a row-level operation (MERGE INTO), not a ref move.
    * After the merge the branch is rebased at its own head, so the
    * next write-then-merge cycle composes. */
  def fastForward(spark: SparkSession, root: String, branch: String,
      into: String = "main"): Long = {
    val f = fs(spark, root)
    val bHead = branchHead(spark, root, branch)
    val bBase = branchBase(spark, root, branch)
    val iHead = branchHead(spark, root, into)
    if (iHead == bHead) return iHead // nothing to merge
    if (iHead != bBase) throw CommitConflict(
      s"'$into' (head $iHead) diverged from '$branch''s base ($bBase) " +
        s"at $root — a fast-forward would drop '$into''s commits. " +
        s"Re-create the branch from the current head, or reconcile " +
        s"row-level with MERGE INTO")
    if (branchMarkers(f, root, into).isEmpty) {
      require(into == "main", s"no branch '$into' at $root")
      f.mkdirs(branchDir(root, "main"))
      atomicCreate(f, new Path(branchDir(root, "main"), s"base-$iHead"))
    }
    if (!atomicCreate(f, new Path(branchDir(root, into), s"tx-$iHead")))
      throw CommitConflict(
        s"concurrent commit on '$into' during fast-forward at $root")
    atomicCreate(f, new Path(branchDir(root, into), s"nx-$iHead-$bHead"))
    atomicCreate(f, new Path(branchDir(root, branch), s"base-$bHead"))
    spark.catalog.refreshByPath(root)
    bHead
  }

  /** The branch's commit chain base → head, in order. */
  private def branchChain(spark: SparkSession, root: String,
      b: String): Seq[Long] = {
    val markers = branchMarkers(fs(spark, root), root, b)
    val base = markers.collect { case s if s.startsWith("base-") =>
      s.stripPrefix("base-").toLong }.max
    val nx = markers.collect { case s if s.startsWith("nx-") =>
      val Array(from, to) = s.stripPrefix("nx-").split('-')
      from.toLong -> to.toLong }.toMap
    val out = scala.collection.mutable.ArrayBuffer(base)
    while (nx.contains(out.last)) out += nx(out.last)
    out.toSeq
  }

  /** PARTIAL fast-forward — promote a PREFIX of `branch`'s commits
    * onto `into`: advance `into` along the branch's chain up to
    * `upTo`, a pointer walk over versions already committed in the
    * global log (each version's manifest is self-contained, so the
    * promotion needs no new commit and no data IO). Legal iff `into`
    * has not moved since the fork (else [[CommitConflict]], loudly)
    * AND `upTo` lies on the branch's chain. The branch KEEPS its
    * divergent suffix and is rebased at the promoted point, so the
    * next promote/merge cycle composes. Cherry-picking a MIDDLE
    * commit while skipping its predecessors is refused by
    * construction: a snapshot manifest carries its predecessors'
    * effect, so promoting it alone would silently smuggle the
    * skipped commits in — the same prefix-only rule Iceberg's
    * cherrypick applies to non-append commits. */
  def fastForwardTo(spark: SparkSession, root: String, branch: String,
      upTo: Long, into: String = "main"): Long = {
    val f = fs(spark, root)
    val chain = branchChain(spark, root, branch)
    require(chain.contains(upTo),
      s"version $upTo is not on branch '$branch''s chain at $root " +
        s"(${chain.mkString(" -> ")}) — only a PREFIX of a branch " +
        "can be promoted")
    val bBase = chain.head
    val iHead = branchHead(spark, root, into)
    if (upTo == iHead) return iHead // nothing to promote
    if (iHead != bBase) throw CommitConflict(
      s"'$into' (head $iHead) diverged from '$branch''s base ($bBase) " +
        s"at $root — promoting would drop '$into''s commits. " +
        "Re-create the branch from the current head, or reconcile " +
        "row-level with MERGE INTO")
    if (branchMarkers(f, root, into).isEmpty) {
      require(into == "main", s"no branch '$into' at $root")
      f.mkdirs(branchDir(root, "main"))
      atomicCreate(f, new Path(branchDir(root, "main"), s"base-$iHead"))
    }
    if (!atomicCreate(f, new Path(branchDir(root, into), s"tx-$iHead")))
      throw CommitConflict(
        s"concurrent commit on '$into' during partial fast-forward " +
          s"at $root")
    // copy the prefix's hop pointers onto `into` — its head then
    // resolves through them to exactly `upTo`
    chain.takeWhile(_ != upTo).zip(chain.drop(1)).foreach {
      case (a, b) => atomicCreate(f,
        new Path(branchDir(root, into), s"nx-$a-$b"))
    }
    // rebase the branch at the promoted point: its base moves to
    // upTo, its own nx chain keeps the unpromoted suffix reachable
    atomicCreate(f, new Path(branchDir(root, branch), s"base-$upTo"))
    spark.catalog.refreshByPath(root)
    upTo
  }

  /** Read a branch's head snapshot. */
  def readBranch(spark: SparkSession, root: String,
      branch: String): DataFrame =
    readVersion(spark, root, branchHead(spark, root, branch))

  /** Claim the next commit slot as `base`'s successor on `branch`.
    * Plain mode (no refs): the linear CAS — slot base+1, guarded so
    * no later slot exists. Branch mode: claim the branch transition
    * `tx-<base>` (one winner per head — the per-branch CAS), then the
    * lowest free global slot. None = lost the race, caller retries
    * after re-reading the head. `cas=false` (replacing commits that
    * derive from nothing) skips the linearity guard in plain mode. */
  private def claimNextOn(f: FileSystem, root: String, branch: String,
      base: Long, cas: Boolean = true): Option[Long] = {
    if (!branchesEnabled(f, root)) {
      if (cas) {
        val target = base + 1
        if (maxLogVersion(f, root) < target && tryClaim(f, root, target))
          Some(target)
        else None
      } else {
        val target = maxLogVersion(f, root) + 1
        if (tryClaim(f, root, target)) Some(target) else None
      }
    } else {
      if (branchMarkers(f, root, branch).isEmpty && branch != "main")
        throw new IllegalArgumentException(s"no branch '$branch' at $root")
      if (branchMarkers(f, root, "main").isEmpty) {
        // refs enabled but main never initialized (defensive)
        f.mkdirs(branchDir(root, "main"))
        atomicCreate(f, new Path(branchDir(root, "main"),
          s"base-${versions(SparkSession.active, root).lastOption.getOrElse(0L)}"))
      }
      if (!atomicCreate(f, new Path(branchDir(root, branch), s"tx-$base")))
        None
      else {
        var target = maxLogVersion(f, root) + 1
        var tries = 0
        while (tries < 64 && !tryClaim(f, root, target)) {
          target = maxLogVersion(f, root) + 1
          tries += 1
        }
        if (tries >= 64) {
          // could not allocate a slot; release the transition
          f.delete(new Path(branchDir(root, branch), s"tx-$base"), false)
          None
        } else Some(target)
      }
    }
  }

  /** The branchRef to hand [[publish]]: set only once branching is
    * enabled, so plain tables pay zero extra IO. */
  private def refIf(f: FileSystem, root: String, b: String,
      base: Long): Option[(String, Long)] =
    if (branchesEnabled(f, root)) Some((b, base)) else None

  def tableProperties(spark: SparkSession,
      root: String): Map[String, String] = {
    val f = fs(spark, root)
    if (!f.exists(propsPath(root))) return Map.empty
    val in = f.open(propsPath(root))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    text.split('\n').filter(_.nonEmpty).map { line =>
      // -1 keeps the trailing empty field: a property with an EMPTY
      // value serializes as "<b64key>\t" and default split would drop
      // the second element, poisoning every read of the table
      val Array(k, v) = line.split("\t", -1)
      unb64(k) -> unb64(v)
    }.toMap
  }

  /** The layout a DataSource V2 write should maintain: the current
    * version's cluster key and bloom column. New files that ignore an
    * existing layout silently erode the table's pruning, so the write
    * path asks here and records the same stats [[append]] would. */
  private[sources] def layoutOf(spark: SparkSession, root: String)
  : (Option[String], Option[String]) = {
    val cur = currentVersion(spark, root)
    if (cur == 0L) (None, None)
    else {
      val entries = readManifest(spark, root, cur)
      (entries.find(e => e.kind == "d" && e.statsKey.isDefined)
        .flatMap(_.statsKey),
        tableBloomKey(entries))
    }
  }

  /** A fresh staging-segment path under the table's data dir, for
    * writers that produce files themselves (the V2 write path's
    * executor tasks) instead of going through [[stageSegment]]. */
  private[sources] def newSegmentPath(root: String): Path =
    new Path(dataDir(root),
      s"seg-${java.util.UUID.randomUUID().toString.take(12)}")

  /** Create version 1 of a FRESH table: a manifest carrying only the
    * schema, no data files — the catalog's CREATE TABLE. Arbitrated
    * by the same claim protocol as every commit, so two concurrent
    * creates resolve to one winner. */
  def createEmpty(spark: SparkSession, root: String,
      schema: StructType): Long = {
    val f = fs(spark, root)
    require(maxLogVersion(f, root) == 0L,
      s"createEmpty requires a fresh root; $root already has versions")
    if (!tryClaim(f, root, 1L))
      throw CommitConflict(s"concurrent create at $root")
    writeManifest(f, root, 1L, Seq.empty,
      StructType(schema.fields.map(_.copy(nullable = true))))
    publish(f, root, 1L, Seq.empty, Seq.empty, op = "create")
    spark.catalog.refreshByPath(root)
    1L
  }

  /** Zero-copy CLONE (a writable branch): `dstRoot` becomes a fully
    * independent table whose first manifest lists the SOURCE
    * version's immutable files by absolute path — no data moves, so
    * branching a 100 TB table is a metadata operation (Delta's
    * shallow CLONE / Iceberg's branch, on the manifest protocol).
    * Everything then works on the clone — reads with pruning, time
    * travel, appends, row-level SQL, compaction (which localizes:
    * rewritten files land under the clone's own `_data`) — without
    * ever touching the source.
    *
    * Two invariants keep sharing safe:
    *  - the source version is auto-TAGGED (`clone-<fingerprint>`), so
    *    source retention cannot reap the shared files while the name
    *    stands; dropping that tag is the operator's explicit release.
    *  - foreign (absolute-path) entries are never deleted by the
    *    CLONE's own expiry — [[expireSnapshots]] only reaps files
    *    under its own root.
    *
    * The clone's first version NUMBER equals the source version: the
    * carried entries keep their sequence numbers (a merge-on-read
    * tombstone kills strictly-older seqs, so renumbering them would
    * corrupt the carried MOR semantics), and the next commit must
    * outrank them all. Table properties (bucket layout, merge key,
    * write modes) copy over — layout is behavior, not location. */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    val v = version.getOrElse(currentVersion(spark, srcRoot))
    require(versions(spark, srcRoot).contains(v),
      s"version $v is not committed at $srcRoot")
    val f = fs(spark, dstRoot)
    require(maxLogVersion(f, dstRoot) == 0L,
      s"clone target $dstRoot already has versions")
    val (entries, recorded) = readManifestFull(spark, srcRoot, v)
    val schema = priorSchemaOrRead(spark, srcRoot, v, recorded)
    val srcBase = fs(spark, srcRoot)
      .makeQualified(new Path(srcRoot)).toUri.getPath
    val abs = entries.map(e =>
      if (e.path.startsWith("/")) e // clone of a clone: already shared
      else e.copy(path = s"$srcBase/${e.path}"))
    // Pin the shared files against source retention BEFORE publishing
    // a reader of them — and pin EVERY distinct root the carried
    // absolute paths resolve to, not just the immediate source: a
    // clone-of-a-clone carries the ORIGINAL table's files verbatim,
    // and if only the intermediate held the original's pin, dropping
    // the intermediate (the documented explicit release) would let
    // the original's retention delete files this clone still reads.
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(dstRoot.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(10)
    val tagName = s"clone-$fp"
    def rootOf(p: String): String = {
      val i = p.indexOf("/_data/")
      require(i > 0, s"carried absolute path without a _data segment: $p")
      p.substring(0, i)
    }
    val byRoot = abs.map(_.path).filter(_.startsWith("/")).groupBy(rootOf)
    // For each pinned root, the version to tag: the clone source pins
    // the cloned version itself; a grandparent root pins the newest
    // committed version whose manifest still covers every carried file
    // (the chain's own pins guarantee one exists while it is intact).
    val pinPlan: Seq[(String, Long)] = byRoot.toSeq.sortBy(_._1).map {
      case (r, _) if r == srcBase => (srcRoot, v)
      case (r, paths) =>
        val needed = paths.map(_.stripPrefix(s"$r/")).toSet
        val cover = versions(spark, r).reverse.find { ver =>
          val listed = readManifest(spark, r, ver).map(_.path).toSet
          needed.subsetOf(listed)
        }.getOrElse(throw new IllegalStateException(
          s"clone source chain broken: no committed version of $r " +
            s"covers the ${needed.size} carried files — the " +
            s"intermediate's pin was released before re-cloning"))
        (r, cover)
    }
    // apply pins, remembering prior state so an aborted clone leaves
    // no permanent retention pin (and restores a shadowed tag)
    val priorTags = pinPlan.map { case (r, _) =>
      r -> tags(spark, r).get(tagName)
    }
    pinPlan.foreach { case (r, ver) => tag(spark, r, tagName, ver) }
    def releasePins(): Unit = priorTags.foreach {
      case (r, Some(prev)) => tag(spark, r, tagName, prev)
      case (r, None) => dropTag(spark, r, tagName)
    }
    try {
      if (!tryClaim(f, dstRoot, v))
        throw CommitConflict(s"concurrent create at $dstRoot")
      writeManifest(f, dstRoot, v, abs,
        StructType(schema.fields.map(_.copy(nullable = true))))
      publish(f, dstRoot, v, abs, Seq.empty, op = "clone")
    } catch { case e: Throwable => releasePins(); throw e }
    val props = tableProperties(spark, srcRoot)
    if (props.nonEmpty) setProperties(spark, dstRoot, props)
    spark.catalog.refreshByPath(dstRoot)
    v
  }

  /** ALTER TABLE ADD COLUMNS: a METADATA-ONLY commit — the new
    * version lists the current version's files unchanged under the
    * evolved schema, so old files read NULL for the added columns and
    * zero data moves. CAS like every derived commit: racing a
    * concurrent append re-derives on the new current version. */
  def addColumns(spark: SparkSession, root: String,
      added: StructType, maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0L, s"no committed version at $root")
      val (entries, recorded) = readManifestFull(spark, root, cur)
      val prior = priorSchemaOrRead(spark, root, cur, recorded)
      require(added.fieldNames.forall(n =>
        !prior.fieldNames.exists(_.equalsIgnoreCase(n))),
        s"column already exists: ${added.fieldNames.mkString(",")}")
      // Ghost guard: re-adding a DROPPED name while any live data file
      // still physically carries the old values would resurface them
      // (readers project by NAME — the name-based analogue of
      // Iceberg's never-reuse-a-field-id rule). Compaction rewrites
      // every file under the narrowed schema, after which the name is
      // genuinely free.
      val props = tableProperties(spark, root)
      val ghosts = added.fieldNames.flatMap { n =>
        props.get(DroppedKeyPrefix +
          n.toLowerCase(java.util.Locale.ROOT)).map(v => (n, v.toLong))
      }
      ghosts.foreach { case (n, droppedAt) =>
        require(!entries.exists(e => e.kind == "d" && e.seq < droppedAt),
          s"cannot re-add column '$n' at $root: it was dropped at " +
            s"version $droppedAt and live files written before that " +
            "still physically carry the old values, which a name-based " +
            "read would resurface; run compact() first, then re-add")
      }
      // ... and a renamed-away name stays reserved the same way: two
      // logical columns must never resolve to one physical column
      added.fieldNames.foreach { n =>
        prior.fields.foreach { other =>
          renameEpochs(other).foreach { ep =>
            require(!(ep.name.equalsIgnoreCase(n) &&
              entries.exists(e => e.kind == "d" && e.seq < ep.until)),
              s"cannot add column '$n' at $root: live files still " +
                s"store column '${other.name}' under that name " +
                s"(renamed away at version ${ep.until}); run " +
                "compact() first")
          }
        }
      }
      claimNextOn(f, root, "main", cur) match { case Some(target) =>
        // a field carrying an initial default is stamped with the
        // version that adds it — the read-side fill boundary
        val stampedAdded = StructType(added.fields.map { fd =>
          if (fd.metadata.contains(InitDefaultKey))
            fd.copy(metadata = new org.apache.spark.sql.types
              .MetadataBuilder().withMetadata(fd.metadata)
              .putLong(InitDefaultAtKey, target).build())
          else fd
        })
        val evolved = evolveSchema(prior, stampedAdded)
        writeManifest(f, root, target, entries, evolved,
          parent = cur)
        publish(f, root, target, entries, Seq.empty, op = "add-columns",
          branchRef = refIf(f, root, "main", cur))
        if (ghosts.nonEmpty) setProperties(spark, root,
          tableProperties(spark, root) -- ghosts.map {
            case (n, _) => DroppedKeyPrefix +
              n.toLowerCase(java.util.Locale.ROOT) })
        spark.catalog.refreshByPath(root)
        return target
      case None => () }
      attempt += 1
      if (attempt > maxRetries) throw CommitConflict(
        s"lost the schema-evolution race ${maxRetries + 1} times at $root")
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Table-property marker for a DROPPED column: `graft.dropped.<lc
    * name>` -> the version that dropped it. Files written BEFORE that
    * version may still physically carry the column; the marker is what
    * lets a later re-ADD of the same name refuse until compaction has
    * rewritten them (see [[addColumns]]). */
  private[graft] val DroppedKeyPrefix = "graft.dropped."

  // ---- column renames (name-based schema evolution) ----
  // Iceberg renames are free because readers resolve by FIELD ID;
  // graft manifests are name-based, so a renamed column records its
  // physical-name HISTORY in the field's metadata instead: an ordered
  // list of (name, until) epochs, where a file with seq < until stores
  // the column under `name`. Readers translate logical -> physical per
  // FILE (they know each file's commit seq), so a rename is a
  // metadata-only commit and zero data moves at any size. Chained
  // renames append epochs; compaction rewrites files under the current
  // name, after which the epochs are dead weight but harmless.
  private[graft] val RenamesKey = "graft.renames"

  private[graft] case class RenameEpoch(name: String, until: Long)

  private[graft] def renameEpochs(fd: StructField): Seq[RenameEpoch] =
    if (!fd.metadata.contains(RenamesKey)) Seq.empty
    else fd.metadata.getString(RenamesKey).split(',').toSeq
      .filter(_.nonEmpty).map { part =>
        val i = part.lastIndexOf(':')
        RenameEpoch(unb64(part.substring(0, i)),
          part.substring(i + 1).toLong)
      }

  private[graft] def encodeEpochs(es: Seq[RenameEpoch]): String =
    es.map(e => s"${b64(e.name)}:${e.until}").mkString(",")

  /** The PHYSICAL column name field `fd` is stored under in a file
    * committed at `seq` — the first epoch the file predates, else the
    * current name. */
  private[graft] def physicalName(fd: StructField, seq: Long): String =
    renameEpochs(fd).find(seq < _.until).map(_.name)
      .getOrElse(fd.name)

  /** (logical -> physical) pairs that DIFFER for a file at `seq` —
    * empty for post-rename files and rename-free tables, so every
    * reader's fast path stays untouched. */
  private[graft] def aliasesAt(schema: StructType, seq: Long)
  : Seq[(String, String)] =
    schema.fields.toSeq.flatMap { fd =>
      val p = physicalName(fd, seq)
      if (p == fd.name) None else Some(fd.name -> p)
    }

  /** Alias pairs for a FIXED name list that may be STALE: a stream
    * captures its schema at start, so after a mid-stream RENAME its
    * required names are old epoch names — resolve each requested name
    * to the schema field whose name OR rename history carries it,
    * then to that field's physical name in a file at `seq`. A
    * post-rename file then maps (old logical -> new physical) and the
    * stream keeps serving values under the name it started with. */
  private[graft] def aliasesForNames(schema: StructType,
      names: Seq[String], seq: Long): Seq[(String, String)] =
    names.flatMap { n =>
      schema.fields.find(fd => fd.name.equalsIgnoreCase(n) ||
        renameEpochs(fd).exists(_.name.equalsIgnoreCase(n)))
        .flatMap { fd =>
          val p = physicalName(fd, seq)
          if (p == n) None else Some(n -> p)
        }
    }

  /** ALTER TABLE RENAME COLUMN: a METADATA-ONLY commit — the evolved
    * schema carries the new name plus a physical-name epoch telling
    * readers that files older than this version store the column
    * under the old name. Refuses renames the table's other machinery
    * depends on (merge-on-read tombstone key, hash-bucket layout key,
    * CHECK-referenced column), a target name already taken (including
    * a dropped-column ghost still physically present in live files),
    * and the old name stays RESERVED against re-ADD while pre-rename
    * files live — two logical columns must never resolve to one
    * physical column. Current-default properties follow the rename. */
  def renameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String, maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0L, s"no committed version at $root")
      val (entries, recorded) = readManifestFull(spark, root, cur)
      val prior = priorSchemaOrRead(spark, root, cur, recorded)
      val fd = prior.fields.find(_.name.equalsIgnoreCase(oldName))
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$oldName' at $root (have " +
            s"${prior.fieldNames.mkString(", ")})"))
      require(!prior.fields.exists(_.name.equalsIgnoreCase(newName)),
        s"column already exists: '$newName' at $root")
      val props = tableProperties(spark, root)
      // target name must not be a ghost (dropped, bytes still live) or
      // a live physical alias of any column — name-based reads resolve
      // by name, and a collision would serve the wrong bytes
      props.get(DroppedKeyPrefix +
        newName.toLowerCase(java.util.Locale.ROOT)).foreach { v =>
        require(!entries.exists(e => e.kind == "d" && e.seq < v.toLong),
          s"cannot rename to '$newName' at $root: the name was " +
            s"dropped at version $v and live files still physically " +
            "carry it; run compact() first")
      }
      prior.fields.foreach { other =>
        renameEpochs(other).foreach { ep =>
          require(!(ep.name.equalsIgnoreCase(newName) &&
            entries.exists(e => e.kind == "d" && e.seq < ep.until)),
            s"cannot rename to '$newName' at $root: live files still " +
              s"store column '${other.name}' under that name " +
              "(renamed away at version " + ep.until +
              "); run compact() first")
        }
      }
      require(!entries.exists(e => e.kind == "t" &&
        e.statsKey.exists(_.equalsIgnoreCase(fd.name))),
        s"cannot rename '${fd.name}' at $root: it is the merge-on-read " +
          "tombstone key of live delete files — compact() first")
      val bucketKeys = props.get("graft.bucket.key")
        .map(_.split(',').toSeq).getOrElse(Seq.empty)
      require(!bucketKeys.exists(_.equalsIgnoreCase(fd.name)),
        s"cannot rename '${fd.name}' at $root: it is a declared " +
          "hash-bucket layout key")
      require(!partitionKeysOf(props).exists(_.equalsIgnoreCase(fd.name)),
        s"cannot rename '${fd.name}' at $root: it is a declared " +
          "identity-partition key")
      props.foreach { case (k, sql) =>
        if (k.startsWith("graft.check."))
          require(!referencesColumn(spark, sql, fd.name),
            s"cannot rename '${fd.name}' at $root: CHECK constraint " +
              s"'${k.stripPrefix("graft.check.")}' references it — " +
              "drop the constraint first")
      }
      claimNextOn(f, root, "main", cur) match { case Some(target) =>
        val epochs = renameEpochs(fd) :+ RenameEpoch(fd.name, target)
        val renamed = fd.copy(name = newName,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(fd.metadata)
            .putString(RenamesKey, encodeEpochs(epochs)).build())
        val evolved = StructType(prior.fields.map(x =>
          if (x.name == fd.name) renamed else x))
        // the CBO sketch stats (NDV registers, null counts) and the
        // per-file exact-sum slots are value-based and LOGICAL-name
        // keyed: re-key all three to the new name so column statistics
        // survive the rename exactly and a repeat analyze stays O(new
        // files). Translating the `__sum:` namespace also prevents a
        // later column re-added under the vacated name from resolving
        // the OLD column's orphaned sum slot. RANGE/bloom stats stay
        // under the per-file PHYSICAL names — that is the coordinate
        // system the pruning translation looks them up in.
        val oldSum = sumKey(fd.name)
        val oldTsu = tsuKey(fd.name)
        val rekeyed = entries.map { e =>
          if (e.kind != "d") e
          else e.copy(
            ndv = e.ndv.map { case (n, s) =>
              (if (n.equalsIgnoreCase(fd.name)) newName else n, s) },
            colNulls = e.colNulls.map { case (n, c) =>
              (if (n.equalsIgnoreCase(fd.name)) newName else n, c) },
            extraStats = e.extraStats.map { case (k, l, h) =>
              (if (k.equalsIgnoreCase(oldSum)) sumKey(newName)
              else if (k.equalsIgnoreCase(oldTsu)) tsuKey(newName)
              else k, l, h) })
        }
        writeManifest(f, root, target, rekeyed, evolved,
          parent = cur)
        publish(f, root, target, rekeyed, Seq.empty,
          op = "rename-column",
          branchRef = refIf(f, root, "main", cur))
        // the CURRENT default and the equi-height histogram state
        // (bin boundaries, per-bin registers, row counts — all
        // value-based) follow the column to its new name
        val moved = Seq("graft.default.", "graft.defaultlit.",
          "graft.histcol.", "graft.histsk.", "graft.histn.")
          .foldLeft(props) { (p, pre) =>
            p.get(pre + fd.name) match {
              case Some(v) => p - (pre + fd.name) + (pre + newName -> v)
              case None => p
            }
          }
        // renaming ONTO a formerly-dropped name (legal once no
        // pre-drop file survives — the ghost check above passed)
        // revives the name: clear the dropped-marker, exactly as a
        // re-ADD does, so the property surface doesn't claim a live
        // column is dropped
        val cleared = moved - (DroppedKeyPrefix +
          newName.toLowerCase(java.util.Locale.ROOT))
        if (cleared != props) setProperties(spark, root, cleared)
        spark.catalog.refreshByPath(root)
        return target
      case None => () }
      attempt += 1
      if (attempt > maxRetries) throw CommitConflict(
        s"lost the schema-evolution race ${maxRetries + 1} times at $root")
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** ALTER TABLE DROP COLUMN(S): a METADATA-ONLY commit — the new
    * version lists the current files unchanged under the NARROWED
    * schema, so every reader simply stops projecting the column; zero
    * data moves at any size (Iceberg's drop has the same shape). The
    * old values remain as unreferenced "ghost" bytes in pre-drop files
    * until compaction rewrites them; a table property remembers the
    * drop so re-adding the name refuses while ghosts are live.
    *
    * Refuses columns the table still depends on: the merge-on-read
    * tombstone key (kill resolution reads it), hash-bucket layout keys
    * (the declared layout names it), and columns referenced by an
    * enforced CHECK constraint. */
  def dropColumns(spark: SparkSession, root: String,
      names: Seq[String], maxRetries: Int = 5): Long = {
    require(names.nonEmpty, "no columns to drop")
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0L, s"no committed version at $root")
      val (entries, recorded) = readManifestFull(spark, root, cur)
      val prior = priorSchemaOrRead(spark, root, cur, recorded)
      val resolved = names.map { n =>
        prior.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$n' at $root (have " +
              s"${prior.fieldNames.mkString(", ")})"))
      }
      val dropSet = resolved.map(_.name).toSet
      require(dropSet.size < prior.fields.length,
        s"cannot drop every column of $root")
      resolved.foreach { fd =>
        require(!entries.exists(e => e.kind == "t" &&
          e.statsKey.exists(_.equalsIgnoreCase(fd.name))),
          s"cannot drop '${fd.name}' at $root: it is the merge-on-read " +
            "tombstone key of live delete files — compact() first to " +
            "materialize the deletes, then drop")
      }
      val props = tableProperties(spark, root)
      val bucketKeys = props.get("graft.bucket.key")
        .map(_.split(',').toSeq).getOrElse(Seq.empty)
      resolved.foreach { fd =>
        require(!bucketKeys.exists(_.equalsIgnoreCase(fd.name)),
          s"cannot drop '${fd.name}' at $root: it is a declared " +
            "hash-bucket layout key")
        require(!partitionKeysOf(props).exists(_.equalsIgnoreCase(fd.name)),
          s"cannot drop '${fd.name}' at $root: it is a declared " +
            "identity-partition key")
      }
      resolved.foreach { fd =>
        props.foreach { case (k, sql) =>
          if (k.startsWith("graft.check."))
            require(!referencesColumn(spark, sql, fd.name),
              s"cannot drop '${fd.name}' at $root: CHECK constraint " +
                s"'${k.stripPrefix("graft.check.")}' references it — " +
                "drop the constraint first")
        }
      }
      val narrowed = StructType(
        prior.fields.filterNot(fd => dropSet.contains(fd.name)))
      claimNextOn(f, root, "main", cur) match { case Some(target) =>
        writeManifest(f, root, target, entries, narrowed,
          parent = cur)
        publish(f, root, target, entries, Seq.empty,
          op = "drop-columns",
          branchRef = refIf(f, root, "main", cur))
        // the dropped names' CURRENT defaults die with them, and the
        // ghost marker arms the re-add guard
        val cleaned = resolved.foldLeft(props) { (p, fd) =>
          p - s"graft.default.${fd.name}" -
            s"graft.defaultlit.${fd.name}" +
            (DroppedKeyPrefix +
              fd.name.toLowerCase(java.util.Locale.ROOT) ->
              target.toString)
        }
        setProperties(spark, root, cleaned)
        spark.catalog.refreshByPath(root)
        return target
      case None => () }
      attempt += 1
      if (attempt > maxRetries) throw CommitConflict(
        s"lost the schema-evolution race ${maxRetries + 1} times at $root")
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Legal type widenings and their stats policy:
    * (keepRange, keepSketch). int->long is EXACT everywhere (integer
    * stat strings parse unchanged, HLL/bloom hashing normalizes
    * integers to long before hashing). int->double keeps ranges
    * (every int is exact in double) but hashes differ, so NDV/bloom
    * sketches are dropped. float->double drops BOTH: a float's
    * decimal-rendered bound re-parsed as double does not bracket the
    * widened value (0.1f widens to 0.10000000149), so a kept range
    * could WRONGLY prune — stats that might lie are removed, analyze
    * re-records them. decimal(P,S)->decimal(P',S) with P' > P (the
    * Iceberg rule: scale NEVER changes) keeps ranges — the unscaled
    * values are untouched, so the rendered bounds re-parse to the
    * same BigDecimals — but drops sketches: value hashing switches
    * representation (compact long vs byte array) across the
    * 18-digit precision boundary, so kept registers could lie. */
  private def wideningPolicy(from: DataType, to: DataType)
  : Option[(Boolean, Boolean)] = (from, to) match {
    case (IntegerType, LongType) => Some((true, true))
    case (IntegerType, DoubleType) => Some((true, false))
    case (FloatType, DoubleType) => Some((false, false))
    case (f: DecimalType, t: DecimalType)
      if t.scale == f.scale && t.precision > f.precision =>
      Some((true, false))
    case _ => None
  }

  /** Whether [[widenColumn]] would accept `from` -> `to` — the
    * catalog's up-front ALTER validation asks before committing
    * anything, so a refused multi-change statement is a no-op. */
  private[graft] def canWiden(from: DataType, to: DataType): Boolean =
    wideningPolicy(from, to).isDefined

  /** ALTER TABLE ALTER COLUMN ... TYPE: widen a column's type as a
    * METADATA-ONLY commit. Files written before the widening keep the
    * narrower physical type; every reader upcasts at decode (Spark's
    * own parquet updaters, behind the native read and the connector's
    * vectorized reader alike). Only lossless
    * widenings are accepted; per-file stats that would become
    * unsound are stripped from the new manifest (see [[Widenings]]).
    * Refuses the merge-on-read tombstone key and hash-bucket layout
    * keys (their hashes and kill comparisons are typed). */
  def widenColumn(spark: SparkSession, root: String,
      name: String, to: DataType, maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0L, s"no committed version at $root")
      val (entries, recorded) = readManifestFull(spark, root, cur)
      val prior = priorSchemaOrRead(spark, root, cur, recorded)
      val fd = prior.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$name' at $root (have " +
            s"${prior.fieldNames.mkString(", ")})"))
      val policy = wideningPolicy(fd.dataType, to).getOrElse(
        throw new IllegalArgumentException(
          s"cannot change '${fd.name}' from ${fd.dataType.simpleString} " +
            s"to ${to.simpleString} at $root: only lossless widenings " +
            "are supported (int->long, int->double, float->double, " +
            "decimal(P,S)->decimal(P',S) with P' > P)"))
      require(!entries.exists(e => e.kind == "t" &&
        e.statsKey.exists(_.equalsIgnoreCase(fd.name))),
        s"cannot widen '${fd.name}' at $root: it is the merge-on-read " +
          "tombstone key of live delete files — compact() first")
      val props = tableProperties(spark, root)
      val bucketKeys = props.get("graft.bucket.key")
        .map(_.split(',').toSeq).getOrElse(Seq.empty)
      require(!bucketKeys.exists(_.equalsIgnoreCase(fd.name)),
        s"cannot widen '${fd.name}' at $root: it is a declared " +
          "hash-bucket layout key (bucket hashes are typed)")
      require(!partitionKeysOf(props).exists(_.equalsIgnoreCase(fd.name)),
        s"cannot widen '${fd.name}' at $root: it is a declared " +
          "identity-partition key (partition values are typed and " +
          "string-rendered — widening would split groups)")
      val (keepRange, keepSketch) = policy
      // the column's stats may live under per-file epoch names too
      val names = (fd.name +: renameEpochs(fd).map(_.name))
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      def mine(n: String): Boolean =
        names(n.toLowerCase(java.util.Locale.ROOT))
      val scrubbed =
        if (keepRange && keepSketch) entries
        else entries.map { e =>
          if (e.kind != "d") e
          else {
            var x = e
            if (!keepSketch) x = x.copy(
              ndv = x.ndv.filterNot(kv => mine(kv._1)),
              bloom = if (x.bloomKey.exists(mine)) None else x.bloom,
              bloomKey = x.bloomKey.filterNot(mine))
            if (!keepRange) x = x.copy(
              lo = if (x.statsKey.exists(mine)) None else x.lo,
              hi = if (x.statsKey.exists(mine)) None else x.hi,
              lo2 = if (x.statsKey2.exists(mine)) None else x.lo2,
              hi2 = if (x.statsKey2.exists(mine)) None else x.hi2,
              extraStats = x.extraStats.filterNot(t => mine(t._1)))
            x
          }
        }
      claimNextOn(f, root, "main", cur) match { case Some(target) =>
        val evolved = StructType(prior.fields.map(x =>
          if (x.name == fd.name) x.copy(dataType = to) else x))
        writeManifest(f, root, target, scrubbed, evolved,
          parent = cur)
        publish(f, root, target, scrubbed, Seq.empty,
          op = "widen-column",
          branchRef = refIf(f, root, "main", cur))
        spark.catalog.refreshByPath(root)
        return target
      case None => () }
      attempt += 1
      if (attempt > maxRetries) throw CommitConflict(
        s"lost the schema-evolution race ${maxRetries + 1} times at $root")
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** ALTER TABLE ALTER COLUMN ... COMMENT: a metadata-only commit
    * stamping the comment into the field's metadata (the key Spark's
    * DESCRIBE surfaces). Empty comment clears it. */
  def commentColumn(spark: SparkSession, root: String,
      name: String, comment: String, maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0L, s"no committed version at $root")
      val (entries, recorded) = readManifestFull(spark, root, cur)
      val prior = priorSchemaOrRead(spark, root, cur, recorded)
      val fd = prior.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$name' at $root (have " +
            s"${prior.fieldNames.mkString(", ")})"))
      claimNextOn(f, root, "main", cur) match { case Some(target) =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(fd.metadata)
        val annotated = fd.copy(metadata =
          (if (comment == null || comment.isEmpty) b.remove("comment")
          else b.putString("comment", comment)).build())
        val evolved = StructType(prior.fields.map(x =>
          if (x.name == fd.name) annotated else x))
        writeManifest(f, root, target, entries, evolved, parent = cur)
        publish(f, root, target, entries, Seq.empty,
          op = "comment-column",
          branchRef = refIf(f, root, "main", cur))
        spark.catalog.refreshByPath(root)
        return target
      case None => () }
      attempt += 1
      if (attempt > maxRetries) throw CommitConflict(
        s"lost the schema-evolution race ${maxRetries + 1} times at $root")
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Does `sql` (a CHECK predicate) reference `col`? Parsed, not
    * substring-matched: `a_b > 0` must not pin column `a`. Falls back
    * to a conservative word-boundary test if the text won't parse. */
  private[sources] def referencesColumn(spark: SparkSession, sql: String,
      col: String): Boolean =
    try spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        => a.nameParts.last
    }.exists(_.equalsIgnoreCase(col))
    catch { case _: Exception =>
      java.util.regex.Pattern
        .compile("(?i)\\b" + java.util.regex.Pattern.quote(col) + "\\b")
        .matcher(sql).find()
    }

  /** ANALYZE: enrich the CURRENT manifest with per-file NDV sketches
    * for every hashable column — the Iceberg `ANALYZE TABLE` shape,
    * surfaced as `CALL graft.system.analyze`. One explicit pass over
    * the live data files (the cost the `auto` write mode refuses to
    * charge every commit), committed as a metadata-only version: the
    * SAME file set, `op = "analyze"`, so changelog readers see an
    * empty (still accretive) delta and time travel still works.
    * Returns (version, columns sketched). */
  def analyze(spark: SparkSession, root: String,
      maxRetries: Int = 5): (Long, Seq[String], Long) = {
    import org.apache.spark.sql.functions.{col, expr}
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0L, s"no committed version at $root")
      val (entries, recorded) = readManifestFull(spark, root, cur)
      val allData = entries.filter(_.kind == "d")
      if (allData.isEmpty) return (cur, Seq.empty, 0L)
      val schema = priorSchemaOrRead(spark, root, cur, recorded)
      val cols = analyzableCols(schema)
      if (cols.isEmpty) return (cur, Seq.empty, 0L)
      // INCREMENTAL: only files missing a sketch or null count for
      // some column are re-read — repeated analyze costs O(new files)
      // since the last one, not O(table). (After ADD COLUMN, files
      // that predate the column lack its sketch and get ONE re-read;
      // for a plain added column that records correct all-NULL stats,
      // and for ADD COLUMN ... DEFAULT the fill override below stamps
      // the stats queries actually surface.)
      val data = allData.filter(unsketched(_, cols))
      // bytes backfill: entries from manifests that predate byte
      // recording get their length stamped here (one status call per
      // legacy file, once) so plan-time sizing goes metadata-only
      val needBytes = entries.exists(_.bytes.isEmpty)
      if (data.isEmpty && !needBytes) return (cur, cols.map(_.name), 0L)
      graft.functions.GraftFunctions.register(spark)
      // numeric columns additionally get per-file min/max recorded as
      // extra stats slots — range pruning AND the CBO's min/max both
      // feed off them (strings stay unrecorded: collation hazards)
      val numeric: Set[String] =
        cols.collect { case fd if cboNumeric(fd.dataType) => fd.name }
          .toSet
      // summable columns additionally get an EXACT per-file sum
      // (decimal(38, col-scale) accumulator, try_sum so an overflowing
      // file records nothing instead of failing the pass) — the feed
      // for complete SUM pushdown: at 100 TB, `sum(amount)` over a
      // petabyte becomes a metadata read
      def sumScale(dt: DataType): Int = dt match {
        case d: org.apache.spark.sql.types.DecimalType => d.scale
        case _ => 0
      }
      // one pass over the live files under the table schema (files
      // that predate a column contribute nothing to its sketch)
      val sel = Seq(col(FileColumn).as("__f")) ++
        cols.zipWithIndex.map { case (fd, i) =>
          col(bq(fd.name)).as(s"__n$i") }
      // per-file row count rides the same pass: it backfills `rows`
      // on entries from manifests predating row-count recording (so
      // the all-null sum escape in `unsketched` can ever hold for
      // them) and distinguishes an ALL-NULL sum (legitimately no
      // slot) from an OVERFLOWED one (sentinel slot)
      val aggs = Seq(expr("count(1)").as("__rc")) ++
        cols.zipWithIndex.flatMap { case (fd, i) =>
        Seq(expr(s"graft_hll_sketch(__n$i, $NdvPrecision)")
            .as(s"__ndv$i"),
          expr(s"sum(CASE WHEN __n$i IS NULL THEN 1 ELSE 0 END)")
            .as(s"__nl$i")) ++
          (if (numeric(fd.name)) Seq(
            smin(col(s"__n$i")).cast("string").as(s"__mn$i"),
            smax(col(s"__n$i")).cast("string").as(s"__mx$i"))
          else Nil) ++
          (if (summable(fd.dataType)) Seq(expr(
            s"CAST(try_sum(CAST(__n$i AS DECIMAL(38," +
              s"${sumScale(fd.dataType)}))) AS STRING)").as(s"__sm$i"))
          else Nil) ++
          // timestamps: TZ-independent epoch-micros bounds (catalyst's
          // own internal value) — the MIN/MAX(ts) pushdown feed
          (if (fd.dataType == org.apache.spark.sql.types.TimestampType)
            Seq(expr(s"CAST(min(unix_micros(__n$i)) AS STRING)")
                .as(s"__tl$i"),
              expr(s"CAST(max(unix_micros(__n$i)) AS STRING)")
                .as(s"__th$i"))
          else Nil)
      }
      // keyed by FULL path, never basename: different segments can
      // hold same-named files (taskIds restart per application), and
      // a basename-keyed map would stamp one file's min/max onto
      // another — wrong PRUNING, i.e. wrong query results. `_file` is
      // the scan's own rendering of the manifest path.
      val byFile =
        if (data.isEmpty) Map.empty[String, org.apache.spark.sql.Row]
        else scan(spark, root, cur, data, Some(storedSchema(schema)))
          .select(sel: _*)
          .groupBy(col("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map(r => r.getAs[String]("__f") -> r).toMap
      val attempted = data.map(_.path).toSet
      val enriched = entries.map { e =>
        if (e.kind != "d" || !attempted(e.path)) e
        else byFile.get(absolute(root, e)) match {
          case None if e.rows.contains(0L) =>
            // a ZERO-ROW file yields no aggregation row; stamp it
            // with correct empty stats (blank registers, zero nulls)
            // so it counts as sketched — otherwise it stays "stale"
            // forever and auto-analyze re-reads it on every append
            e.copy(
              ndv = cols.map(fd =>
                fd.name -> Array.ofDim[Byte](1 << NdvPrecision)),
              colNulls = cols.map(_.name -> 0L))
          case None =>
            // a NON-empty file whose key failed to match is a path-
            // normalization gap: leave it unstamped (it stays stale
            // and a later analyze retries) — NEVER stamp blank stats
            // onto real rows
            e
          case Some(r) =>
          val ranges = cols.zipWithIndex.flatMap { case (fd, i) =>
            // never shadow a slot the entry already has (cluster key,
            // z-order dims, __bucket, txn markers)
            if (!numeric(fd.name) || e.statsFor(fd.name).isDefined) None
            else (Option(r.getAs[String](s"__mn$i")),
              Option(r.getAs[String](s"__mx$i"))) match {
              case (Some(lo), Some(hi)) => Some((fd.name, lo, hi))
              case _ => None
            }
          }
          val fileRows = Option(r.getAs[Any]("__rc"))
            .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
          // value-based exact sums: a NULL try_sum is either an
          // all-null column (legitimately NO slot — SQL SUM ignores
          // the file, and the colNulls==rows escape in `unsketched`
          // holds) or an OVERFLOWED decimal(38) accumulator — the
          // latter records the [[SumUnavailable]] sentinel so the
          // file counts as sketched (analyze converges) while the
          // pushdown consumer declines to answer from the manifest
          val sums = cols.zipWithIndex.flatMap { case (fd, i) =>
            if (!summable(fd.dataType)) None
            else Option(r.getAs[String](s"__sm$i")) match {
              case Some(v) => Some((sumKey(fd.name), v, v))
              case None =>
                val nulls = Option(r.getAs[Any](s"__nl$i"))
                  .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
                if (nulls < fileRows)
                  Some((sumKey(fd.name), SumUnavailable, SumUnavailable))
                else None
            }
          }
          // timestamp epoch-micros bounds: all-null columns record no
          // slot (the all-null escape in `unsketched` covers them)
          val tsRanges = cols.zipWithIndex.flatMap { case (fd, i) =>
            if (fd.dataType != org.apache.spark.sql.types.TimestampType)
              None
            else (Option(r.getAs[String](s"__tl$i")),
              Option(r.getAs[String](s"__th$i"))) match {
              case (Some(lo), Some(hi)) =>
                Some((tsuKey(fd.name), lo, hi))
              case _ => None
            }
          }
          e.copy(
            // rows backfill: entries from manifests predating
            // row-count recording get the exact count from this pass
            // (commit-time counts are authoritative where present)
            rows = e.rows.orElse(Some(fileRows)),
            ndv = cols.zipWithIndex.flatMap { case (fd, i) =>
              Option(r.getAs[Array[Byte]](s"__ndv$i")).map(fd.name -> _)
            },
            colNulls = cols.zipWithIndex.map { case (fd, i) =>
              fd.name -> Option(r.getAs[Any](s"__nl$i"))
                .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
            },
            extraStats = e.extraStats
              .filterNot(t => sums.exists(_._1.equalsIgnoreCase(t._1)) ||
                tsRanges.exists(_._1.equalsIgnoreCase(t._1)))
              ++ ranges ++ sums ++ tsRanges)
        }
      }
      // INITIAL-DEFAULT override: a file written BEFORE a column
      // added via ADD COLUMNS ... DEFAULT v stores no values for it,
      // but every query surfaces the literal `v`, never NULL — so the
      // raw-read stats above (NDV=0, nulls=rowcount) would misreport
      // what the table actually serves. Stamp what readers see: a
      // one-value NDV sketch, zero nulls, and (numeric) a degenerate
      // [v, v] range. Applied to ALL pre-evolution data files, not
      // just this pass's, so re-running analyze heals stats an older
      // analyze recorded wrong. Metadata-only.
      val fillSketch: Map[String, Array[Byte]] = initFills(schema)
        .filter(fl => cols.exists(_.name.equalsIgnoreCase(fl.name)))
        .flatMap { fl =>
          // hashValue takes CATALYST values (UTF8String for strings),
          // InitFill.value renders EXTERNAL ones — convert, and skip
          // (never fail the whole CALL) any unrenderable default
          scala.util.Try {
            val cv: Any = fl.dataType match {
              case org.apache.spark.sql.types.StringType =>
                org.apache.spark.unsafe.types.UTF8String
                  .fromString(fl.rendered)
              case _ => fl.value
            }
            val regs = Array.ofDim[Byte](1 << NdvPrecision)
            graft.functions.Hll.add(regs,
              graft.functions.Hll.hashValue(cv, fl.dataType))
            fl.name -> regs
          }.toOption
        }.toMap
      val fills = initFills(schema).filter(fl =>
        fillSketch.contains(fl.name))
      val filled = enriched.map { e =>
        if (e.kind != "d" || e.rows.contains(0L)) e
        else fills.filter(_.addedAt > e.seq).foldLeft(e) { (acc, fl) =>
          // a summable default-filled column SERVES `v` on every row
          // of a pre-evolution file, so the file's true served sum is
          // v * rows — stamp exactly that (the raw read above saw
          // only NULLs and recorded no slot, while the zero-null fill
          // closes the all-null escape: without this slot the file
          // would be permanently stale AND the pushdown feed would
          // silently drop its contribution). rows unknown (pre-
          // rowcount manifest outside this pass's stale set) →
          // sentinel: sketched, but the manifest declines to answer.
          val servedSum: Option[(String, String, String)] =
            if (!summable(fl.dataType)) None
            else Some(acc.rows match {
              case Some(n) =>
                val prod = scala.util.Try(
                  new java.math.BigDecimal(fl.rendered)
                    .multiply(java.math.BigDecimal.valueOf(n))
                    .setScale(sumScale(fl.dataType)))
                  .filter(_.precision <= 38)
                  .map(_.toPlainString).getOrElse(SumUnavailable)
                (sumKey(fl.name), prod, prod)
              case None =>
                (sumKey(fl.name), SumUnavailable, SumUnavailable)
            })
          // a TIMESTAMP default serves one instant on every row: the
          // epoch-micros range is degenerate [v, v] (unparseable
          // default -> the unavailable sentinel: sketched, declined)
          val servedTsu: Option[(String, String, String)] =
            if (fl.dataType != org.apache.spark.sql.types.TimestampType)
              None
            else Some {
              scala.util.Try(fl.value match {
                case i: java.time.Instant => java.time.temporal
                  .ChronoUnit.MICROS.between(java.time.Instant.EPOCH, i)
                case t: java.sql.Timestamp =>
                  Math.multiplyExact(t.getTime, 1000L) +
                    (t.getNanos % 1000000) / 1000
                case l: java.lang.Long => l.longValue()
              }).toOption match {
                case Some(m) => (tsuKey(fl.name), m.toString, m.toString)
                case None =>
                  (tsuKey(fl.name), SumUnavailable, SumUnavailable)
              }
            }
          val served = servedSum.toSeq ++ servedTsu
          acc.copy(
            ndv = acc.ndv.filterNot(_._1.equalsIgnoreCase(fl.name)) :+
              (fl.name -> fillSketch(fl.name)),
            colNulls = acc.colNulls
              .filterNot(_._1.equalsIgnoreCase(fl.name)) :+
              (fl.name -> 0L),
            extraStats = {
              val base = acc.extraStats.filterNot(t =>
                served.exists(_._1.equalsIgnoreCase(t._1))) ++ served
              if (!cboNumeric(fl.dataType) ||
                acc.statsFor(fl.name).isDefined) base
              else base :+ ((fl.name, fl.rendered, fl.rendered))
            })
        }
      }
      val stamped = filled.map(e =>
        if (e.bytes.isDefined) e
        else e.copy(bytes = fileLen(f, root, e.path)))
      claimNextOn(f, root, "main", cur) match { case Some(target) =>
        writeManifest(f, root, target, stamped, schema,
          parent = cur)
        publish(f, root, target, stamped, Seq.empty, op = "analyze",
          branchRef = refIf(f, root, "main", cur))
        spark.catalog.refreshByPath(root)
        return (target, cols.map(_.name), data.size.toLong)
      case None => () }
      attempt += 1
      if (attempt > maxRetries) throw CommitConflict(
        s"lost the analyze race ${maxRetries + 1} times at $root")
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Equi-height HISTOGRAMS for numeric columns — the range-
    * selectivity feed that min/max interpolation cannot provide on
    * skewed data. Two passes over the live files (bin boundaries from
    * the partition-invariant DDSketch quantiles, then one wide
    * aggregation computing per-bin NDV sketches and non-null counts),
    * stored as TABLE properties stamped with the analyzed version —
    * the scan reports them only for UNPRUNED reads of exactly that
    * version, so a histogram never describes files a query didn't
    * read. Explicit maintenance, like [[analyze]]. Returns the
    * columns histogrammed. */
  def analyzeHistograms(spark: SparkSession, root: String,
      bins: Int = 16): Seq[String] = {
    require(bins >= 2 && bins <= 64, s"bins must be in [2,64]: $bins")
    import org.apache.spark.sql.functions.expr
    val cur = currentVersion(spark, root)
    require(cur > 0L, s"no committed version at $root")
    val (entries, recorded) = readManifestFull(spark, root, cur)
    val data = entries.filter(_.kind == "d")
    if (data.isEmpty) return Seq.empty
    val schema = priorSchemaOrRead(spark, root, cur, recorded)
    val numCols =
      schema.fields.toSeq.filter(fd => cboNumeric(fd.dataType))
    if (numCols.isEmpty) return Seq.empty
    graft.functions.GraftFunctions.register(spark)
    val df = scan(spark, root, cur, data, Some(storedSchema(schema)))
    // pass 1: quantile sketches -> equi-height bin boundaries, with
    // the OUTER bounds clamped to the exact min/max (the sketch is
    // α-approximate; Spark's estimator asserts the query range fits
    // inside the histogram, so the ends must be exact)
    val skAggs = numCols.zipWithIndex.flatMap { case (fd, i) => Seq(
      expr(s"graft_qsketch(CAST(${bq(fd.name)} AS DOUBLE), 1)")
        .as(s"__q$i"),
      expr(s"min(CAST(${bq(fd.name)} AS DOUBLE))").as(s"__lo$i"),
      expr(s"max(CAST(${bq(fd.name)} AS DOUBLE))").as(s"__hi$i")) }
    val skRow = df.agg(skAggs.head, skAggs.tail: _*).head()
    val bounded: Seq[(StructField, Int, Array[Double])] =
      numCols.zipWithIndex.flatMap { case (fd, i) =>
        Option(skRow.getAs[Array[Byte]](s"__q$i")).flatMap { bs =>
          val buf = graft.functions.QSketch.fromBytes(bs)
          if (buf.total == 0L ||
            skRow.isNullAt(skRow.fieldIndex(s"__lo$i"))) None
          else {
            val exactLo = skRow.getAs[Double](s"__lo$i")
            val exactHi = skRow.getAs[Double](s"__hi$i")
            // a NaN/Infinity min or max (Spark sorts NaN above every
            // double) would render as an unparseable SQL literal in
            // the pass-2 `array(...)` — SKIP the column: a histogram
            // cannot describe a non-finite range anyway
            if (!java.lang.Double.isFinite(exactLo) ||
              !java.lang.Double.isFinite(exactHi)) None
            else {
              val qs = (0 to bins).map(b =>
                buf.quantile(b.toDouble / bins)).toArray
              qs(0) = exactLo
              qs(bins) = exactHi
              // keep interior boundaries monotone within the clamp;
              // a non-finite sketch quantile collapses onto its left
              // neighbor (finite by induction from the exact ends)
              var j = 1
              while (j < bins) {
                qs(j) = math.min(math.max(qs(j), exactLo), exactHi)
                if (!java.lang.Double.isFinite(qs(j)) ||
                  qs(j) < qs(j - 1)) qs(j) = qs(j - 1)
                j += 1
              }
              Some((fd, i, qs))
            }
          }
        }
      }
    if (bounded.isEmpty) return Seq.empty
    // pass 2: per-bin NDV + per-column non-null counts, one wide agg.
    // Bin index = interior boundaries strictly below the value
    // (codegen'd higher-order filter, no UDF).
    val binCols = bounded.map { case (fd, i, bs) =>
      // `D` suffix: Double.toString never round-trips as a plain SQL
      // numeric for values like 1.0E-7 without the typed literal
      val interior = bs.slice(1, bins).map(b => s"${b}D").mkString(",")
      expr(s"size(filter(array($interior), " +
        s"x -> x < CAST(${bq(fd.name)} AS DOUBLE)))").as(s"__b$i")
    }
    val valCols = bounded.map { case (fd, i, _) =>
      expr(s"CAST(${bq(fd.name)} AS DOUBLE)").as(s"__v$i") }
    val aggs = bounded.flatMap { case (_, i, _) =>
      expr(s"count(__v$i)").as(s"__n$i") +:
        (0 until bins).map(b => expr(
          s"graft_hll_sketch(CASE WHEN __b$i = $b THEN __v$i END, " +
            s"$NdvPrecision)").as(s"__h${i}_$b"))
    }
    val row = df.select(binCols ++ valCols: _*)
      .agg(aggs.head, aggs.tail: _*).head()
    val regW = 1 << NdvPrecision
    val histProps = bounded.flatMap { case (fd, i, bs) =>
      val nonNull = row.getAs[Long](s"__n$i")
      val height = nonNull.toDouble / bins
      val binStrs = (0 until bins).map { b =>
        val ndv = Option(row.getAs[Array[Byte]](s"__h${i}_$b"))
          .map(graft.functions.Hll.estimate).getOrElse(0L)
        s"${bs(b)},${bs(b + 1)},$ndv"
      }.mkString(";")
      // the per-bin HLL REGISTERS ride along (concatenated, fixed
      // width): they are what makes the histogram MERGEABLE, so an
      // append can be folded in ([[refreshHistograms]]) by sketching
      // only the new files instead of recomputing the table
      val concat = new Array[Byte](bins * regW)
      (0 until bins).foreach { b =>
        Option(row.getAs[Array[Byte]](s"__h${i}_$b")).foreach(r =>
          System.arraycopy(r, 0, concat, b * regW, regW))
      }
      Seq(
        s"graft.histcol.${fd.name}" -> s"$height|$binStrs",
        s"graft.histsk.${fd.name}" ->
          java.util.Base64.getEncoder.encodeToString(concat),
        s"graft.histn.${fd.name}" -> nonNull.toString)
    }
    setProperties(spark, root, tableProperties(spark, root)
      .filterNot(_._1.startsWith("graft.hist")) ++ histProps ++ Map(
      "graft.hist.version" -> cur.toString,
      "graft.hist.bins" -> bins.toString))
    bounded.map(_._1.name)
  }

  /** INCREMENTAL histogram maintenance: fold the files appended since
    * the histogram's stamped version into the stored per-bin HLL
    * registers — ONE pass over the NEW files only, under the frozen
    * bin boundaries (outer bounds extend to cover new extremes; the
    * equi-height property drifts until the next full
    * [[analyzeHistograms]], the standard maintenance trade). Falls
    * back to the full recompute when merge-only math cannot be right:
    * files were REMOVED or tombstones changed (HLLs don't subtract),
    * or the histogram's base manifest is gone. Returns true iff the
    * table now carries a current-version histogram. */
  def refreshHistograms(spark: SparkSession, root: String): Boolean = {
    import org.apache.spark.sql.functions.expr
    val props = tableProperties(spark, root)
    val histV = props.get("graft.hist.version").map(_.toLong)
      .getOrElse(return false) // never histogrammed: nothing to keep
    val bins = props.get("graft.hist.bins").map(_.toInt)
      .getOrElse(return false)
    val cur = currentVersion(spark, root)
    if (cur == histV) return true // already fresh
    def full(): Boolean =
      analyzeHistograms(spark, root, bins).nonEmpty
    val oldEntries =
      scala.util.Try(readManifest(spark, root, histV))
        .getOrElse(return full()) // base expired: recompute
    val (curEntries, recorded) = readManifestFull(spark, root, cur)
    val oldData = oldEntries.filter(_.kind == "d").map(_.path).toSet
    val curData = curEntries.filter(_.kind == "d")
    val removed = oldData -- curData.map(_.path).toSet
    val tombsChanged = oldEntries.filter(_.kind == "t").map(_.path)
      .toSet != curEntries.filter(_.kind == "t").map(_.path).toSet
    if (removed.nonEmpty || tombsChanged) return full()
    val newFiles = curData.filterNot(e => oldData(e.path))
    val regW = 1 << NdvPrecision
    // stored state per histogrammed column: boundaries + registers
    val schema = priorSchemaOrRead(spark, root, cur, recorded)
    val state = schema.fields.toSeq.filter(fd => cboNumeric(fd.dataType))
      .flatMap { fd =>
        for {
          enc <- props.get(s"graft.histcol.${fd.name}")
          sk <- props.get(s"graft.histsk.${fd.name}")
          n <- props.get(s"graft.histn.${fd.name}").flatMap(_.toLongOption)
          bounds <- scala.util.Try {
            val parts = enc.split('|')(1).split(';')
            (parts.map(_.split(',')(0).toDouble) :+
              parts.last.split(',')(1).toDouble)
          }.toOption.filter(_.length == bins + 1)
          regs <- scala.util.Try(java.util.Base64.getDecoder
            .decode(sk)).toOption.filter(_.length == bins * regW)
        } yield (fd, bounds, regs, n)
      }
    if (state.isEmpty) return full()
    if (newFiles.isEmpty) { // metadata-only commits since: restamp
      setProperties(spark, root, tableProperties(spark, root) +
        ("graft.hist.version" -> cur.toString))
      return true
    }
    graft.functions.GraftFunctions.register(spark)
    val df = scan(spark, root, cur, newFiles, Some(storedSchema(schema)))
    val binCols = state.zipWithIndex.map { case ((fd, bs, _, _), i) =>
      val interior = bs.slice(1, bins).map(b => s"${b}D").mkString(",")
      expr(s"size(filter(array($interior), " +
        s"x -> x < CAST(${bq(fd.name)} AS DOUBLE)))").as(s"__b$i")
    }
    val valCols = state.zipWithIndex.map { case ((fd, _, _, _), i) =>
      expr(s"CAST(${bq(fd.name)} AS DOUBLE)").as(s"__v$i") }
    val aggs = state.indices.flatMap { i =>
      Seq(expr(s"count(__v$i)").as(s"__n$i"),
        expr(s"min(__v$i)").as(s"__mn$i"),
        expr(s"max(__v$i)").as(s"__mx$i")) ++
        (0 until bins).map(b => expr(
          s"graft_hll_sketch(CASE WHEN __b$i = $b THEN __v$i END, " +
            s"$NdvPrecision)").as(s"__h${i}_$b"))
    }
    val row = df.select(binCols ++ valCols: _*)
      .agg(aggs.head, aggs.tail: _*).head()
    val refreshed = state.zipWithIndex.flatMap {
      case ((fd, bs, regs, oldN), i) =>
        val addN = row.getAs[Long](s"__n$i")
        val mn = Option(row.getAs[Any](s"__mn$i"))
          .map(_.asInstanceOf[Number].doubleValue())
        val mx = Option(row.getAs[Any](s"__mx$i"))
          .map(_.asInstanceOf[Number].doubleValue())
        if (mn.exists(!java.lang.Double.isFinite(_)) ||
          mx.exists(!java.lang.Double.isFinite(_)))
          Nil // non-finite arrivals: drop the column's histogram
        else {
          val merged = regs.clone()
          (0 until bins).foreach { b =>
            Option(row.getAs[Array[Byte]](s"__h${i}_$b")).foreach {
              r =>
                val slice = java.util.Arrays.copyOfRange(merged,
                  b * regW, (b + 1) * regW)
                graft.functions.Hll.merge(slice, r)
                System.arraycopy(slice, 0, merged, b * regW, regW)
            }
          }
          // outer bounds stretch to the new extremes (interior
          // boundaries frozen — the merge contract)
          val qs = bs.clone()
          mn.foreach(v => qs(0) = math.min(qs(0), v))
          mx.foreach(v => qs(bins) = math.max(qs(bins), v))
          val total = oldN + addN
          val height = total.toDouble / bins
          val binStrs = (0 until bins).map { b =>
            val ndv = graft.functions.Hll.estimate(
              java.util.Arrays.copyOfRange(merged, b * regW,
                (b + 1) * regW))
            s"${qs(b)},${qs(b + 1)},$ndv"
          }.mkString(";")
          Seq(
            s"graft.histcol.${fd.name}" -> s"$height|$binStrs",
            s"graft.histsk.${fd.name}" ->
              java.util.Base64.getEncoder.encodeToString(merged),
            s"graft.histn.${fd.name}" -> total.toString)
        }
    }
    if (refreshed.isEmpty) return full()
    setProperties(spark, root, tableProperties(spark, root)
      .filterNot(_._1.startsWith("graft.hist")) ++ refreshed ++ Map(
      "graft.hist.version" -> cur.toString,
      "graft.hist.bins" -> bins.toString))
    true
  }

  /** Commit `df` Z-ORDERED on (keyA, keyB, more...): the segment is
    * laid out along the interleaved curve, so every file is a compact
    * bounding box in the full key space, and the manifest records
    * min/max for EVERY curve column (two named slots + the open-ended
    * extra list) — [[readWhere]]/[[readKeys]]/MERGE then prune on ANY
    * single column, and [[readWhereDims]] prunes a conjunctive box on
    * all of them at once. The multi-dimensional data-skipping layout
    * (Delta's OPTIMIZE ZORDER BY) on the manifest protocol; per-dim
    * selectivity decays as dims share the fixed curve-bit budget —
    * the same trade-off every Z-order implementation documents. */
  def commitZOrdered(spark: SparkSession, root: String, df: DataFrame,
      keyA: String, keyB: String, files: Int = 8,
      bloomKey: Option[String] = None, maxRetries: Int = 5,
      more: Seq[String] = Nil): Long =
    commit(spark, root, df, maxRetries, clusterKey = Some(keyA),
      files = files, bloomKey = bloomKey, zorderWith = Some(keyB),
      zorderExtra = more)

  /** Read the current snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readCommitted(spark, root, committedVersion(spark, root, None))

  /** The commit wall-clock of version `v`: the mtime of its commit
    * record — the instant the version became visible (the record's
    * creation IS the commit). Metadata-only. */
  def commitTime(spark: SparkSession, root: String, v: Long): Long = {
    require(versions(spark, root).contains(v),
      s"version $v is not committed at $root")
    fs(spark, root)
      .getFileStatus(new Path(commitsDir(root), v.toString))
      .getModificationTime
  }

  /** TIMESTAMP AS OF resolution: the newest version whose commit
    * record existed at `ts` (epoch millis) — so a reader handed a
    * wall-clock instant sees exactly what a live reader saw then.
    * Uses the COMMIT RECORD's mtime, not data-file mtimes: staging
    * happens before the claim, so data mtimes can predate visibility.
    * Clock caveat (same one `vacuum` documents): mtimes come from the
    * filesystem that hosts the log, so cross-writer skew is bounded
    * by the store's clock, not each writer's. */
  def versionAsOf(spark: SparkSession, root: String, ts: Long): Long = {
    val vs = versions(spark, root)
    val f = fs(spark, root)
    val visible = vs.filter(v =>
      f.getFileStatus(new Path(commitsDir(root), v.toString))
        .getModificationTime <= ts)
    require(visible.nonEmpty,
      s"no version of $root was committed at or before $ts " +
        s"(earliest surviving commit: ${vs.headOption.getOrElse(0L)})")
    visible.max
  }

  /** Time travel by wall clock: `readAsOf(ts)` ==
    * `readVersion(versionAsOf(ts))`. */
  def readAsOf(spark: SparkSession, root: String, ts: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, ts))

  /** Data files of `v` whose key range could contain a key of
    * `updates`: a file is PRUNED (carried over untouched) when it has
    * stats on `key` and no update key falls inside [lo, hi]. Stats are
    * compared in the KEY'S type (strings cast back), never as strings.
    * Files without stats on `key` are conservatively rewritten. */
  private def touchedFiles(spark: SparkSession, root: String,
      entries: Seq[FileEntry], updates: DataFrame, key: String)
  : (Seq[FileEntry], Seq[FileEntry]) = {
    import spark.implicits._
    val keyType = updates.schema(key).dataType
    val (withStats, without) =
      entries.partition(_.statsFor(key).isDefined)
    if (withStats.isEmpty) return (entries, Seq.empty)
    // file-range metadata is O(#files) — the manifest itself; joining
    // the update keys against it broadcast is the standard pruning
    // shape (the planner holds the manifest either way)
    val ranges = withStats.map { e =>
        val (l, h) = e.statsFor(key).get
        (e.path, l, h)
      }
      .toDF("__p", "__lo", "__hi")
      .select(col("__p"), col("__lo").cast(keyType).as("__lo"),
        col("__hi").cast(keyType).as("__hi"))
    val touchedPaths = updates.select(col(key).as("__k")).distinct()
      .join(org.apache.spark.sql.functions.broadcast(ranges),
        col("__k") >= col("__lo") && col("__k") <= col("__hi"))
      .select("__p").distinct().as[String].collect().toSet
    val (touched, carried) = withStats.partition(e =>
      touchedPaths.contains(e.path))
    (without ++ touched, carried)
  }

  /** MERGE-style upsert: rows of `updates` replace current rows with
    * the same `key` (matched => updated) or append (not matched =>
    * inserted), committed as a NEW snapshot. Copy-on-write at FILE
    * granularity: manifest stats prune the current files to the ones
    * whose key range intersects the update keys; only those are read,
    * anti-joined and rewritten — every other file carries over by
    * reference (spec: a merge touching one key rewrites at most one
    * file of a clustered table). The new segment is re-clustered on
    * `key` so stats stay tight for the next merge.
    *
    * The distinct non-NULL update keys are collected ONCE when there
    * are at most [[MaxBloomProbeKeys]] of them ([[probeFiles]]): the
    * touched files are then classified on the driver and the replaced
    * rows dropped by a membership filter on the collected keys, with no
    * further job for either. A larger key set keeps the broadcast-join
    * classification and anti-joins the key frame itself. Rows with a
    * NULL key never replace anything (equality semantics): a NULL-keyed
    * update row is appended, a NULL-keyed table row is kept.
    *
    * Concurrency: the result is derived FROM a specific version and
    * committed with [[commitExpecting]] semantics — if another commit
    * lands first, the derivation is thrown away and re-derived against
    * the new current version (bounded retries), so no concurrent
    * commit is ever silently dropped. Same read-modify-write contract
    * as Iceberg's revalidate-and-retry, stated rather than assumed. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      key: String, files: Int = 8, maxRetries: Int = 5,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      if (cur == 0L) {
        // bootstrap: all-inserts; CONDITIONAL on still being first so
        // two racing bootstrap merges cannot both win
        val (seg, entries) =
          stageSegment(spark, root, updates, Some(key), files)
        try {
          return commitExpectingEntries(spark, root, seg, entries,
            expectedCurrent = 0L, schema = updates.schema, op = "merge")
        } catch {
          case e: CommitConflict if !e.committed && attempt < maxRetries =>
            attempt += 1
        }
      } else {
        val (prior, priorSchema) = readManifestFull(spark, root, cur)
        val schema = evolveSchema(
          priorSchemaOrRead(spark, root, cur, priorSchema),
          updates.schema)
        val (tombs, dataEntries) = prior.partition(_.kind == "t")
        // NULL keys match nothing (the anti join is an equality join),
        // so only the non-NULL update keys classify and replace
        val keys = updates.select(updates(key))
          .filter(col(key).isNotNull).distinct()
        val (touched, carriedData, probes) =
          probeFiles(spark, root, dataEntries, keys, key)
        val carried = carriedData ++ tombs
        val rewritten =
          if (touched.isEmpty) updates
          else {
            // read touched files THROUGH the tombstone filter, so a
            // copy-on-write merge after merge-on-read commits cannot
            // resurrect deleted rows; allowMissingColumns lets an
            // evolving batch union with pre-evolution files (absent
            // columns land as NULL, matching the read path). A
            // collected key set drops the replaced rows with a
            // membership filter — no job, where the anti join would
            // evaluate or broadcast the key set again; `<=> true` keeps
            // NULL-keyed rows, as the equality anti join does
            val existing = scan(spark, root, cur, touched ++ tombs,
              priorSchema)
            probes.fold(existing.join(keys, Seq(key), "left_anti"))(p =>
              existing.filter(
                !(existing(key).isin(p.toSeq: _*) <=> lit(true))))
              .unionByName(updates, allowMissingColumns = true)
          }
        // size the rewritten segment by its input bytes, with `files`
        // as the clustering-granularity floor: a fixed file count
        // would produce monster files once a merge touches a large
        // key range at scale
        val touchedBytes = touched.map(entryBytes(f, root, _)).sum
        val outFiles = math.max(files,
          ((touchedBytes + targetBytes - 1) / targetBytes).toInt)
        val (seg, newEntries) =
          stageSegment(spark, root, rewritten, Some(key), outFiles,
            bloomFor(rewritten, tableBloomKey(prior)))
        try {
          return commitExpectingEntries(spark, root, seg,
            carried ++ newEntries, expectedCurrent = cur,
            schema = schema, op = "merge")
        } catch {
          case e: CommitConflict if !e.committed && attempt < maxRetries =>
            attempt += 1
          // table moved on: re-derive against the new current version
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** MERGE-ON-READ upsert: the write-optimized twin of [[merge]] and
    * the semantics the reference's `write.delete.mode=merge-on-read`
    * Iceberg property asks for. The commit stages ONLY the update
    * batch (clustered data segment) plus a key-tombstone file listing
    * the batch's keys — no existing file is read, opened or
    * rewritten, so commit cost is O(batch) even when the update keys
    * hit every file's range (the case that makes copy-on-write merge
    * O(table)). Readers pay a kill-set probe per row against the
    * accumulated keys (see [[scan]]); [[compact]] materializes the
    * merge and clears the tombstones. Same CAS + re-derive concurrency contract
    * as [[merge]]. */
  def mergeOnRead(spark: SparkSession, root: String, updates: DataFrame,
      key: String, files: Int = 8, maxRetries: Int = 5): Long = {
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      if (cur == 0L) {
        // bootstrap is all-inserts: identical to COW bootstrap
        val (seg, entries) =
          stageSegment(spark, root, updates, Some(key), files)
        try {
          return commitExpectingEntries(spark, root, seg, entries,
            expectedCurrent = 0L, schema = updates.schema, op = "merge")
        } catch {
          case e: CommitConflict if !e.committed && attempt < maxRetries =>
            attempt += 1
        }
      } else {
        val (prior, priorSchema) = readManifestFull(spark, root, cur)
        val schema = evolveSchema(
          priorSchemaOrRead(spark, root, cur, priorSchema),
          updates.schema)
        requireTombKey(prior, key, root)
        val (dataSeg, dataEntries) =
          stageSegment(spark, root, updates, Some(key), files,
            bloomFor(updates, tableBloomKey(prior)))
        // manifest-stats check (zero data IO, zero jobs): when no
        // existing file's key range can overlap a STAGED file's key
        // range, the batch is provably all-inserts — skip the
        // tombstone, keeping the history append-only (and
        // diff/incremental-MV on their O(batch) path). Monotone-key
        // ingest takes this branch every batch. The staged segment's
        // own per-file ranges replace the broadcast-join
        // classification job the old form ran: interval overlap is a
        // sound (conservative) superset of per-key containment — no
        // overlap still PROVES all-inserts, and a false overlap only
        // writes a tombstone that kills nothing.
        val touched = rangesTouchLocal(prior.filter(_.kind == "d"),
          dataEntries, key, updates.schema(key).dataType)
        val (segs, entries) =
          if (touched.isEmpty) (Seq(dataSeg), prior ++ dataEntries)
          else {
            val (tombSeg, tombEntries) = stageSegment(spark, root,
              updates.select(updates(key)).distinct(), Some(key), 1)
            (Seq(dataSeg, tombSeg),
              prior ++ tombEntries.map(_.copy(kind = "t")) ++ dataEntries)
          }
        try {
          return commitExpectingSegs(spark, root, segs, entries,
            expectedCurrent = cur, schema = schema, op = "merge")
        } catch {
          case e: CommitConflict if !e.committed && attempt < maxRetries =>
            attempt += 1
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Merge-on-read DELETE by key set: commits ONLY a tombstone file —
    * zero data IO regardless of table size (the delete-vector shape).
    * Rows whose key appears in `keys` disappear from this version on;
    * prior versions still time-travel to them. `keys` must expose the
    * key as column `key`. */
  def deleteKeysOnRead(spark: SparkSession, root: String,
      keys: DataFrame, key: String, maxRetries: Int = 5): Long = {
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0L, s"cannot delete from an empty table at $root")
      val (prior, priorSchema) = readManifestFull(spark, root, cur)
      requireTombKey(prior, key, root)
      val (tombSeg, tombEntries) = stageSegment(spark, root,
        keys.select(keys(key)).distinct(), Some(key), 1)
      try {
        // a tombstone-only commit cannot change the table schema
        return commitExpectingSegs(spark, root, Seq(tombSeg),
          prior ++ tombEntries.map(_.copy(kind = "t")),
          expectedCurrent = cur,
          schema = priorSchema.getOrElse(
            readVersion(spark, root, cur).schema), op = "delete")
      } catch {
        case e: CommitConflict =>
          if (e.committed || attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Outcome of a [[deleteWhere]]/[[deleteFilters]] commit. `version`
    * is the published version (= the prior current when the delete
    * matched nothing and no commit was needed). The file counts are
    * the scale story: `droppedFiles` left the table by METADATA edit
    * alone (manifest stats proved every row matched — zero data IO),
    * `carriedFiles` carried over by reference untouched, and only
    * `rewrittenFiles` were read and rewritten without their matching
    * rows. `scannedFiles` is how many candidate files the fallback
    * matched-file scan had to open (0 when stats classified
    * everything). */
  final case class DeleteStats(version: Long, droppedFiles: Long,
      rewrittenFiles: Long, carriedFiles: Long, scannedFiles: Long)

  // Tri-state file coverage of a delete predicate, proved from
  // manifest stats alone: every row matches / no row matches /
  // can't tell.
  private final val CoverAll = 1
  private final val CoverNone = 0
  private final val CoverUnknown = -1

  /** Translate a pushed-down [[org.apache.spark.sql.sources.Filter]]
    * into the equivalent [[Column]] predicate (Filter semantics: a row
    * "matches" when the predicate is TRUE; NULL comparisons match
    * nothing). None = shape this engine does not translate — the SQL
    * DELETE path refuses it up front via `canDeleteWhere` rather than
    * deleting the wrong rows. */
  private[sources] def filterCondition(
      f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.sources._
    def c(name: String): Column = col(bq(name))
    f match {
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case StringContains(a, v) => Some(c(a).contains(v))
      case And(l, r) =>
        for { a <- filterCondition(l); b <- filterCondition(r) }
          yield a && b
      case Or(l, r) =>
        for { a <- filterCondition(l); b <- filterCondition(r) }
          yield a || b
      case Not(x) => filterCondition(x).map(p => !p)
      case _ => None
    }
  }

  /** Render a Filter's comparison value in the SAME form the manifest
    * stats strings use (`cast(col as string)` of min/max), restricted
    * to types where that rendering is order-faithful under
    * [[statOrdering]]. Timestamps are excluded on purpose: their
    * `cast(string)` form and `Timestamp.toString` disagree on the
    * fractional part ("…:05" vs "…:05.0"), which would break the
    * lexicographic compare — those columns just classify Unknown. */
  private def statRender(dt: DataType, v: Any): Option[String] =
    (dt, v) match {
      case (_, null) => None
      case (LongType | IntegerType | ShortType | ByteType, n: Number) =>
        Some(n.longValue().toString)
      case (DoubleType | FloatType, n: Number) =>
        Some(n.doubleValue().toString)
      case (_: DecimalType, d: java.math.BigDecimal) => Some(d.toString)
      case (_: DecimalType, d: BigDecimal) => Some(d.toString)
      case (StringType, s: String) => Some(s)
      case (DateType, d: java.sql.Date) => Some(d.toString)
      case (DateType, d: java.time.LocalDate) => Some(d.toString)
      case _ => None
    }

  /** Prove the coverage of filter `f` over file `e` from manifest
    * stats: [[CoverAll]] (every live row of the file matches — the
    * file can be DROPPED without being read), [[CoverNone]] (no row
    * matches — carried untouched), or [[CoverUnknown]]. Soundness
    * rules: min/max stats describe NON-NULL values only, and a NULL
    * never matches a comparison, so None-proofs need just the range
    * while All-proofs additionally need the file's recorded null
    * count to be zero (nulls are recorded for the primary stats
    * column only; anything else stays Unknown). */
  private def filterCoverage(e: FileEntry, schema: StructType,
      f: org.apache.spark.sql.sources.Filter): Int = {
    import org.apache.spark.sql.sources._
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)
    // (cmp, lo, hi, rendered value) when everything lines up
    def range(name: String, v: Any)
    : Option[((String, String) => Int, String, String, String)] =
      for {
        dt <- dtOf(name)
        if dt != TimestampType // see statRender
        cmp <- statOrdering(dt)
        (lo, hi) <- e.statsFor(name)
        rv <- statRender(dt, v)
      } yield (cmp, lo, hi, rv)
    def nullsKnownZero(name: String): Boolean =
      e.statsKey.exists(_.equalsIgnoreCase(name)) &&
        e.statsNulls.contains(0L)
    def allNull(name: String): Boolean =
      e.statsKey.exists(_.equalsIgnoreCase(name)) &&
        e.statsNulls.isDefined && e.rows.isDefined &&
        e.statsNulls == e.rows
    f match {
      case AlwaysTrue() => CoverAll
      case AlwaysFalse() => CoverNone
      case EqualTo(a, v) => range(a, v) match {
        case Some((cmp, lo, hi, rv)) =>
          if (cmp(rv, lo) < 0 || cmp(rv, hi) > 0) CoverNone
          else if (cmp(lo, hi) == 0 && cmp(rv, lo) == 0 &&
            nullsKnownZero(a)) CoverAll
          else CoverUnknown
        case None => CoverUnknown
      }
      case EqualNullSafe(a, v) if v != null =>
        filterCoverage(e, schema, EqualTo(a, v))
      case EqualNullSafe(a, null) =>
        filterCoverage(e, schema, IsNull(a))
      case GreaterThan(a, v) => range(a, v) match {
        case Some((cmp, lo, hi, rv)) =>
          if (cmp(hi, rv) <= 0) CoverNone
          else if (cmp(lo, rv) > 0 && nullsKnownZero(a)) CoverAll
          else CoverUnknown
        case None => CoverUnknown
      }
      case GreaterThanOrEqual(a, v) => range(a, v) match {
        case Some((cmp, lo, hi, rv)) =>
          if (cmp(hi, rv) < 0) CoverNone
          else if (cmp(lo, rv) >= 0 && nullsKnownZero(a)) CoverAll
          else CoverUnknown
        case None => CoverUnknown
      }
      case LessThan(a, v) => range(a, v) match {
        case Some((cmp, lo, hi, rv)) =>
          if (cmp(lo, rv) >= 0) CoverNone
          else if (cmp(hi, rv) < 0 && nullsKnownZero(a)) CoverAll
          else CoverUnknown
        case None => CoverUnknown
      }
      case LessThanOrEqual(a, v) => range(a, v) match {
        case Some((cmp, lo, hi, rv)) =>
          if (cmp(lo, rv) > 0) CoverNone
          else if (cmp(hi, rv) <= 0 && nullsKnownZero(a)) CoverAll
          else CoverUnknown
        case None => CoverUnknown
      }
      case In(a, vs) =>
        if (vs.isEmpty) CoverNone
        else {
          val per = vs.map(v => filterCoverage(e, schema, EqualTo(a, v)))
          if (per.forall(_ == CoverNone)) CoverNone
          else if (per.exists(_ == CoverAll)) CoverAll
          else CoverUnknown
        }
      case IsNull(a) =>
        if (e.statsKey.exists(_.equalsIgnoreCase(a)) &&
          e.statsNulls.contains(0L)) CoverNone
        else if (allNull(a)) CoverAll
        else CoverUnknown
      case IsNotNull(a) =>
        if (allNull(a)) CoverNone
        else if (nullsKnownZero(a)) CoverAll
        else CoverUnknown
      case And(l, r) =>
        val (a, b) =
          (filterCoverage(e, schema, l), filterCoverage(e, schema, r))
        if (a == CoverNone || b == CoverNone) CoverNone
        else if (a == CoverAll && b == CoverAll) CoverAll
        else CoverUnknown
      case Or(l, r) =>
        val (a, b) =
          (filterCoverage(e, schema, l), filterCoverage(e, schema, r))
        if (a == CoverAll || b == CoverAll) CoverAll
        else if (a == CoverNone && b == CoverNone) CoverNone
        else CoverUnknown
      case Not(x) =>
        // sound direction only: "all rows match x" ⇒ "none match ¬x".
        // The converse needs a no-NULLs proof on every column of x
        // (NULL matches neither side) — classified Unknown instead.
        if (filterCoverage(e, schema, x) == CoverAll) CoverNone
        else CoverUnknown
      case _ => CoverUnknown
    }
  }

  /** DELETE WHERE over pushed-down filters, at file granularity — the
    * engine's `DELETE FROM t WHERE …` (the DSv2 connector routes SQL
    * DELETE here via `SupportsDelete`). Three tiers, cheapest first:
    *
    *  1. manifest-stats classification ([[filterCoverage]]): files
    *     whose stats prove every row matches are DROPPED from the new
    *     manifest — a metadata-only delete, zero data IO (the "drop a
    *     key range / a day" case that dominates retention jobs at
    *     100 TB); files provably untouched carry over by reference;
    *  2. the remaining candidates are scanned ONCE (filter pushed to
    *     the parquet scan) to find which actually contain matching
    *     rows — containing none, they also carry over untouched;
    *  3. only files with matching rows are rewritten without those
    *     rows (read through the tombstone filter so a copy-on-write
    *     delete after merge-on-read commits cannot resurrect rows),
    *     re-clustered on the table's layout key so stats stay tight.
    *
    * A delete that matches nothing publishes NO new version. CAS
    * commit + re-derive on conflict, the [[merge]] contract. */
  def deleteFilters(spark: SparkSession, root: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      maxRetries: Int = 5): DeleteStats = {
    require(filters.forall(filterCondition(_).isDefined),
      s"untranslatable delete filters: ${filters.mkString(", ")}")
    // no filters = unconditional DELETE (SQL `DELETE FROM t`): every
    // file classifies CoverAll below and the table truncates by
    // manifest edit alone
    val cond = filters.flatMap(filterCondition)
      .reduceOption(_ && _).getOrElse(lit(true))
    deleteCore(spark, root, cond, maxRetries,
      classify = (e, schema) => filters
        .map(f => filterCoverage(e, schema, f))
        .foldLeft(CoverAll) { (acc, c) => // top-level array = AND
          if (acc == CoverNone || c == CoverNone) CoverNone
          else if (acc == CoverAll && c == CoverAll) CoverAll
          else CoverUnknown
        })
  }

  /** Copy-on-write DELETE WHERE for an arbitrary [[Column]] predicate.
    * SQL semantics: rows where the condition evaluates to NULL are
    * KEPT (only TRUE deletes — a bare `filter(!condition)` would
    * silently drop them). No stats classification is possible for an
    * opaque Column, but the matched-file scan still applies: files
    * containing no matching row carry over untouched, so the rewrite
    * is O(files with matches), not O(table) — structured predicates
    * should prefer [[deleteFilters]], which can additionally drop
    * wholly-matching files without reading them. */
  def deleteWhere(spark: SparkSession, root: String,
      condition: Column, maxRetries: Int = 5): Long =
    deleteCore(spark, root, condition, maxRetries,
      classify = (_, _) => CoverUnknown).version

  private def deleteCore(spark: SparkSession, root: String,
      condition: Column, maxRetries: Int,
      classify: (FileEntry, StructType) => Int): DeleteStats = {
    import org.apache.spark.sql.functions.coalesce
    val f = fs(spark, root)
    val matchCond = coalesce(condition, lit(false))
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0L, s"cannot delete from an empty table at $root")
      val (prior, priorSchema) = readManifestFull(spark, root, cur)
      val schema = priorSchemaOrRead(spark, root, cur, priorSchema)
      val (tombs, data) = prior.partition(_.kind == "t")
      val byCover = data.groupBy(classify(_, schema))
      val dropped = byCover.getOrElse(CoverAll, Seq.empty)
      val carriedNone = byCover.getOrElse(CoverNone, Seq.empty)
      val unknown = byCover.getOrElse(CoverUnknown, Seq.empty)
      // tier 2: one pushdown-friendly scan over the unclassified files
      // (through their tombstones) to find the ones that actually hold
      // live matching rows, keyed by full path
      val matchedPaths: Set[String] =
        if (unknown.isEmpty) Set.empty
        else scan(spark, root, cur, unknown ++ tombs, priorSchema)
          .filter(matchCond)
          .select(FileColumn).distinct()
          .collect().map(_.getString(0)).toSet
      val (rewriteSet, carriedScan) = unknown.partition(e =>
        matchedPaths.contains(absolute(root, e)))
      if (dropped.isEmpty && rewriteSet.isEmpty)
        return DeleteStats(cur, 0, 0, data.size.toLong,
          unknown.size.toLong) // nothing matched: no commit needed
      val carriedData = carriedNone ++ carriedScan
      val kept =
        if (rewriteSet.isEmpty) None
        else Some(scan(spark, root, cur, rewriteSet ++ tombs,
          priorSchema).filter(!matchCond))
      val (clusterKey, _) = layoutOf(spark, root)
      // a declared identity layout survives the rewrite (value-pure
      // files), like compaction and the row-level COW path
      val partKeys = partitionKeysOf(tableProperties(spark, root))
      val (segs, newEntries) = kept match {
        case None => (Seq.empty[Path], Seq.empty[FileEntry])
        case Some(df) if partKeys.nonEmpty =>
          val (seg, es) = stagePartitioned(spark, root, df, partKeys)
          (Seq(seg), es)
        case Some(df) =>
          // size the rewrite by its input bytes (the merge rule): the
          // kept rows are a subset of the rewritten files' rows
          val touchedBytes =
            rewriteSet.map(entryBytes(f, root, _)).sum
          val outFiles = math.max(1L,
            (touchedBytes + (128L << 20) - 1) / (128L << 20)).toInt
          val (seg, es) = stageSegment(spark, root, df, clusterKey,
            math.max(outFiles, math.min(rewriteSet.size, 8)),
            bloomFor(df, tableBloomKey(prior)))
          (Seq(seg), es)
      }
      // tombstones kill rows of data files; with no data files left
      // they are dead weight — drop them with the last data file
      val carried =
        if ((carriedData ++ newEntries).isEmpty) Seq.empty
        else carriedData ++ tombs
      try {
        val v = commitExpectingSegs(spark, root, segs,
          carried ++ newEntries, expectedCurrent = cur, schema = schema,
          op = "delete")
        return DeleteStats(v, dropped.size.toLong,
          rewriteSet.size.toLong, carriedData.size.toLong,
          unknown.size.toLong)
      } catch {
        case e: CommitConflict => // staged segs already discarded
          if (e.committed || attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Atomic compaction: rewrite the CURRENT snapshot's data into
    * ~`targetBytes` files and commit the rewrite as a NEW version.
    * Readers of the old version are untouched (their files are
    * immutable); the swap is the commit-log append — and the append is
    * CONDITIONAL: compaction is data-preserving maintenance, so if any
    * writer committed after the snapshot being rewritten was resolved,
    * the compaction ABORTS (CommitConflict) instead of silently
    * publishing a latest version that lacks the writer's rows.
    * Returns (files before, files after, new version). Rows are
    * REPARTITIONED (hash, not coalesce) so skewed inputs still compact
    * in parallel — or RANGE-clustered when `clusterKey` is given, so a
    * compaction of a merge-maintained table regenerates the per-file
    * stats the next merge prunes on (and clears accumulated
    * merge-on-read tombstones by materializing their effect). */
  def compact(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterKey: Option[String] = None,
      bloomKey: Option[String] = None): (Long, Long, Long) = {
    val f = fs(spark, root)
    val v = currentVersion(spark, root)
    if (v == 0L) return (0L, 0L, 0L) // nothing committed, nothing to do
    val entries = readManifest(spark, root, v)
    val totalBytes = entries.map(entryBytes(f, root, _)).sum
    if (totalBytes == 0) return (entries.size.toLong, entries.size.toLong, v)
    val nFiles =
      math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val snapshot = readVersion(spark, root, v)
    val inherited =
      bloomFor(snapshot, bloomKey.orElse(tableBloomKey(entries)))
    // a declared hash-bucket layout is PRESERVED through compaction
    // (unless the caller overrides with an explicit clusterKey):
    // rewriting a bucketed table unbucketed would silently demote its
    // storage-partitioned joins to shuffles
    val props =
      if (clusterKey.isDefined) Map.empty[String, String]
      else tableProperties(spark, root)
    val bucketLayout = bucketLayoutOf(props)
    // a declared identity-partition layout is preserved the same way:
    // rewriting value-pure files impure would silently demote manifest
    // GROUP BY answers and storage-partitioned joins to full scans
    val partitionKeys = partitionKeysOf(props)
    val (seg, newEntries) = (clusterKey, bucketLayout, partitionKeys) match {
      case (_, Some(layout), _) =>
        stageBucketed(spark, root, snapshot, layout)
      case (_, _, pks) if pks.nonEmpty =>
        stagePartitioned(spark, root, snapshot, pks)
      case (Some(_), _, _) =>
        stageSegment(spark, root, snapshot, clusterKey, nFiles,
          inherited)
      case _ =>
        stageSegment(spark, root, snapshot.repartition(nFiles), None, 0,
          inherited)
    }
    val newV = commitExpectingEntries(spark, root, seg, newEntries,
      expectedCurrent = v, schema = snapshot.schema, op = "compact")
    (entries.size.toLong, newEntries.size.toLong, newV)
  }

  /** Conditional commit (compare-and-swap): publishes `entries` only as
    * version `expectedCurrent + 1`. If any other committer claimed that
    * version first — i.e. the table moved on from the snapshot the
    * caller derived from — the staged segment is discarded and
    * [[CommitConflict]] is thrown. This is the read-modify-write
    * primitive: plain `commit`/`append` retry against the new current,
    * `commitExpecting` refuses to publish a derivation of stale state
    * (merge / deleteWhere / compact / incremental view refresh). */
  private def commitExpectingEntries(spark: SparkSession, root: String,
      seg: Path, entries: Seq[FileEntry], expectedCurrent: Long,
      schema: StructType, op: String): Long =
    commitExpectingSegs(spark, root, Seq(seg), entries, expectedCurrent,
      schema, op)

  private def commitExpectingSegs(spark: SparkSession, root: String,
      segs: Seq[Path], entries: Seq[FileEntry],
      expectedCurrent: Long, schema: StructType,
      op: String): Long = {
    val f = fs(spark, root)
    // branch mode: the tx-<expectedCurrent> claim IS the expected-
    // current check — if main moved past it, that transition is taken
    val target = claimNextOn(f, root, "main", expectedCurrent)
      .getOrElse {
        segs.foreach(f.delete(_, true))
        throw CommitConflict(s"table at $root moved past " +
          s"$expectedCurrent while deriving its successor")
      }
    // new entries carry the seq-0 sentinel; stamp them with the
    // version that adds them (carried entries keep their add version)
    val stamped = entries.map(e =>
      if (e.seq == 0L) e.copy(seq = target) else e)
    writeManifest(f, root, target, stamped, schema,
      parent = expectedCurrent)
    publish(f, root, target, stamped, segs, op,
      branchRef = refIf(f, root, "main", expectedCurrent))
    spark.catalog.refreshByPath(root)
    target
  }

  /** CAS commit of a derived full snapshot (kept for callers that
    * recompute from scratch, e.g. a materialized-view refresh). */
  private[sources] def commitExpecting(spark: SparkSession, root: String,
      df: DataFrame, expectedCurrent: Long,
      clusterKey: Option[String] = None, files: Int = 8,
      bloomKey: Option[String] = None): Long = {
    val inherited = bloomKey.orElse(
      if (expectedCurrent == 0L) None
      else tableBloomKey(readManifest(spark, root, expectedCurrent)))
    val (seg, entries) = stageSegment(spark, root, df, clusterKey,
      if (clusterKey.isDefined) files else 0, bloomFor(df, inherited))
    commitExpectingEntries(spark, root, seg, entries, expectedCurrent,
      schema = df.schema, op = "refresh")
  }

  /** Incremental read: the row-level delta between two committed
    * snapshots, tagged `inserted` / `deleted` (a modified row appears
    * as one of each — plain-parquet snapshots carry no row identity, so
    * the diff is set-based by full row value, duplicates bag-counted).
    *
    * Cost is O(CHANGED FILES), never O(table): rows in files shared by
    * both manifests are bit-identical and cancel by construction, so
    * only the files added/removed between the versions are read at
    * all ([[fileDelta]]). For append-only history the removed set is
    * empty and the diff is literally "read the new files" — one scan of
    * the batch, zero joins, the access pattern Iceberg calls
    * incremental scan. When files were both added and removed (a
    * copy-on-write MERGE rewrote some), rows carried through the
    * rewrite are cancelled exactly by an `exceptAll` pair — two
    * shuffles over the rewritten files. A consumer whose aggregate is
    * invertible does not need that cancellation: see [[signedChanges]]. */
  def diff(spark: SparkSession, root: String, from: Long, to: Long)
  : DataFrame = diffOf(spark, root, fileDelta(spark, root, from, to))

  /** The file-level change between two committed versions: both
    * manifests, the files `to` added and the files it dropped, and the
    * schema both legs read under. Metadata only. The read schema is the
    * UNION of the two versions' schemas: TO alone would project away
    * FROM-only columns (backward diffs, replacing commits that dropped a
    * column) and silently cancel rows whose only change was in the
    * dropped column. evolveSchema is the union with the type-conflict
    * guard built in. */
  private final case class FileDelta(to: Long, a: Seq[FileEntry],
      b: Seq[FileEntry], added: Seq[FileEntry], removed: Seq[FileEntry],
      readSchema: Option[StructType]) {
    /** A tombstone changes the LIVE rows of files both manifests
      * share, so the bare file delta does not describe such a range. */
    def hasTombstones: Boolean = (a ++ b).exists(_.kind == "t")
  }

  private def fileDelta(spark: SparkSession, root: String, from: Long,
      to: Long): FileDelta = {
    val (a, fromSchema) = readManifestFull(spark, root, from)
    val (b, toSchema) = readManifestFull(spark, root, to)
    val readSchema = (fromSchema, toSchema) match {
      case (Some(f), Some(t)) => Some(evolveSchema(f, t))
      case (f, t) => f.orElse(t)
    }
    val aPaths = a.map(_.path).toSet
    val bPaths = b.map(_.path).toSet
    FileDelta(to, a, b, b.filterNot(e => aPaths.contains(e.path)),
      a.filterNot(e => bPaths.contains(e.path)), readSchema)
  }

  /** The change rows between two committed versions, each signed
    * `__sign` = +1 (inserted) / -1 (deleted): the input an incremental
    * COUNT/SUM view folds into its rollup.
    *
    * With `exact = false` and no tombstone in either manifest, the rows
    * are the SIGNED FILE DELTA: every row of an added file at +1 and
    * every row of a removed file at -1, with no cancellation. A row a
    * copy-on-write commit carried through a rewrite appears once in
    * each leg, so it nets to zero in any invertible aggregate (COUNT,
    * DECIMAL SUM, non-NULL counts) — exactly, since the two copies are
    * the same value — and the two `exceptAll` shuffles [[diff]] spends
    * on cancelling it are skipped. On an append-only range the rows are
    * the added files' rows, the same scan [[diff]] plans.
    *
    * Otherwise (`exact = true` for non-invertible aggregates such as
    * MIN/MAX or sketches, or a merge-on-read range) the rows are
    * [[diff]]'s, signed by change type. */
  private[sources] def signedChanges(spark: SparkSession, root: String,
      from: Long, to: Long, exact: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.when
    val d = fileDelta(spark, root, from, to)
    if (exact || d.hasTombstones || (d.added.isEmpty && d.removed.isEmpty))
      diffOf(spark, root, d).withColumn("__sign",
        when(col("change_type") === "inserted", lit(1L)).otherwise(lit(-1L)))
    else {
      def signed(es: Seq[FileEntry], sign: Long): Seq[DataFrame] =
        if (es.isEmpty) Nil
        else Seq(scan(spark, root, d.to, es, d.readSchema)
          .withColumn("__sign", lit(sign)))
      (signed(d.added, 1L) ++ signed(d.removed, -1L))
        .reduce(_.unionByName(_))
    }
  }

  private def diffOf(spark: SparkSession, root: String, d: FileDelta)
  : DataFrame = {
    import org.apache.spark.sql.functions.lit
    val readSchema = d.readSchema
    // merge-on-read histories: a tombstone changes the LIVE rows of
    // files that are in both manifests, so the plain file-delta
    // shortcut is unsound. But when the range is PURELY ACCRETIVE
    // (nothing removed: every from-file, data or tombstone, still in
    // `to` — the shape every mergeOnRead/deleteKeysOnRead commit
    // produces), the change is still O(delta):
    //   inserted = live-at-to rows among the ADDED data files (the
    //     range's own later tombstones applied by the seq rule);
    //   deleted  = live-at-from rows whose key an ADDED tombstone
    //     covers — every such row dies, because a from-row's seq <=
    //     from < any added tombstone's seq. The from-side read is
    //     PRUNED to files whose stats/bloom admit a tombstoned key,
    //     so cost is O(added files + affected files), never O(table).
    //   A re-inserted identical row nets out through the same
    //   exceptAll the exact diff uses.
    // Compaction/replace commits break the accretive premise and fall
    // back to the exact (O(both versions)) bag diff.
    if (d.hasTombstones) {
      if (d.removed.nonEmpty) {
        val av = scan(spark, root, d.to, d.a, readSchema)
        val bv = scan(spark, root, d.to, d.b, readSchema)
        return bv.exceptAll(av).withColumn("change_type", lit("inserted"))
          .unionByName(
            av.exceptAll(bv).withColumn("change_type", lit("deleted")))
      }
      val (aTombs, aData) = d.a.partition(_.kind == "t")
      val bTombs = d.b.filter(_.kind == "t")
      val (addedTombs, addedData) = d.added.partition(_.kind == "t")
      def empty: DataFrame = scan(spark, root, d.to, Nil, readSchema)
      val ins = scan(spark, root, d.to, addedData ++ bTombs, readSchema)
      val del =
        if (addedTombs.isEmpty) empty
        else {
          val key = addedTombs.head.statsKey.getOrElse(
            throw new IllegalStateException(
              s"tombstone entry without a key column at $root"))
          // the tombstone files' keys, read as one-column data under
          // the name they store it by
          val keyType = readSchema
            .getOrElse(readVersion(spark, root, d.to).schema).fields
            .find(_.name.equalsIgnoreCase(key)).map(_.dataType)
            .getOrElse(throw new IllegalStateException(
              s"tombstone key '$key' is not a column of $root"))
          val keysDf = scan(spark, root, d.to,
            addedTombs.map(_.copy(kind = "d")),
            Some(StructType(Seq(StructField(key, keyType))))).distinct()
          // probe rows collect FIRST: a small tombstone set then
          // classifies + bloom-prunes driver-side from one evaluation
          // of keysDf (the join form evaluated it a second time and
          // launched a classification job)
          val (touched, _, probes) =
            probeFiles(spark, root, aData, keysDf, key)
          val pruned = probes.fold(touched)(p =>
            bloomPrune(touched, p, keysDf.schema(key).dataType, key))
          scan(spark, root, d.to, pruned ++ aTombs, readSchema)
            .join(keysDf, Seq(key), "left_semi")
        }
      // a pure-delete commit (no added data files) or a pure-insert
      // commit (no added tombstones) has one PROVABLY empty leg —
      // skip the exceptAll pair (two shuffles) the mixed case needs;
      // x.exceptAll(empty) = x and empty.exceptAll(x) = empty exactly
      if (addedData.isEmpty)
        return del.withColumn("change_type", lit("deleted"))
      if (addedTombs.isEmpty)
        return ins.withColumn("change_type", lit("inserted"))
      // MIXED insert+delete commit: an identical re-insert of a
      // deleted row cancels against its delete, as a bag difference
      return ins.exceptAll(del).withColumn("change_type", lit("inserted"))
        .unionByName(
          del.exceptAll(ins).withColumn("change_type", lit("deleted")))
    }
    def readFiles(es: Seq[FileEntry]): DataFrame =
      scan(spark, root, d.to, es, readSchema)
    def tag(df: DataFrame, t: String): DataFrame =
      df.withColumn("change_type", lit(t))
    (d.added.nonEmpty, d.removed.nonEmpty) match {
      case (true, false) => tag(readFiles(d.added), "inserted")
      case (false, true) => tag(readFiles(d.removed), "deleted")
      case (false, false) =>
        tag(readVersion(spark, root, d.to).limit(0), "inserted")
      case (true, true) =>
        val ins = readFiles(d.added)
        val del = readFiles(d.removed)
        tag(ins.exceptAll(del), "inserted")
          .unionByName(tag(del.exceptAll(ins), "deleted"))
    }
  }

  /** Table history — one row per committed version with its file
    * count, byte size, and how many files it shares with its
    * predecessor (the DESCRIBE HISTORY surface; `shared_files` > 0 is
    * the visible signature of a zero-rewrite append or a pruned
    * merge). Metadata-only: reads manifests and file statuses, never
    * data. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val vs = versions(spark, root)
    val rows = vs.foldLeft(
      (Seq.empty[(Long, String, Long, Long, Long, Long)],
        Set.empty[String])) {
      case ((acc, prevPaths), v) =>
        val es = readManifest(spark, root, v)
        val bytes = es.map(entryBytes(f, root, _)).sum
        val paths = es.map(_.path).toSet
        val shared = (paths & prevPaths).size.toLong
        (acc :+ ((v, commitOperation(spark, root, v), es.size.toLong,
          bytes, shared, (paths.size - shared))), paths)
    }._1
    rows.toDF("version", "operation", "n_files", "bytes",
      "shared_files", "added_files")
  }

  /** Time travel: read snapshot `v` as of its commit. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    readCommitted(spark, root, committedVersion(spark, root, Some(v)))

  private def readCommitted(spark: SparkSession, root: String,
      v: Long): DataFrame = {
    val (entries, schema) = readManifestFull(spark, root, v)
    scan(spark, root, v, entries, schema)
  }

  /** ROLLBACK: commit a NEW version whose contents are exactly those
    * of committed version `v` — the recovery move after a bad write.
    * Metadata-only at any table size: the new manifest lists `v`'s
    * files and schema verbatim, zero data bytes move (the shape of
    * Iceberg's `rollback_to_snapshot`). History-preserving: the bad
    * versions stay time-travelable for forensics until expiry, and
    * the operation rides the ordinary claim protocol, so concurrent
    * writers serialize with it like any commit. Table PROPERTIES are
    * not rolled back — the schema travels in the manifest, but
    * forward-looking settings (write layout, constraints) keep their
    * current values. No-ops when `v` is already current. Requires `v`
    * un-expired. Returns the version left current. */
  def rollbackTo(spark: SparkSession, root: String, v: Long,
      maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(versions(spark, root).contains(v),
        s"version $v is not committed at $root")
      if (v == cur) return cur
      val (entries, recorded) = readManifestFull(spark, root, v)
      val schema = priorSchemaOrRead(spark, root, v, recorded)
      claimNextOn(f, root, "main", cur) match {
        case Some(target) =>
          writeManifest(f, root, target, entries, schema, parent = cur)
          publish(f, root, target, entries, Seq.empty,
            op = s"rollback-to-$v",
            branchRef = refIf(f, root, "main", cur))
          spark.catalog.refreshByPath(root)
          return target
        case None => ()
      }
      attempt += 1
      if (attempt > maxRetries) throw CommitConflict(
        s"lost the rollback race ${maxRetries + 1} times at $root")
      Thread.sleep(math.min(50L, 5L * attempt))
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[rollbackTo]] by wall clock: restore the state a live reader
    * saw at `ts` (epoch millis) — `rollbackTo(versionAsOf(ts))`, the
    * shape of Delta's `RESTORE TABLE ... TO TIMESTAMP AS OF`. */
  def rollbackToTimestamp(spark: SparkSession, root: String,
      ts: Long, maxRetries: Int = 5): Long =
    rollbackTo(spark, root, versionAsOf(spark, root, ts), maxRetries)

  /** Scan planning from manifest stats: split version `v`'s entries
    * into (kept, skipped) for a range predicate on `key` — a file is
    * skipped iff its recorded [lo, hi] provably cannot intersect the
    * requested bounds. Files without stats on `key` are conservatively
    * kept; tombstones are always kept (their stats describe the keys
    * they KILL, not rows they contain — skipping one would resurrect
    * deleted rows). Bounds compare in the key's parquet type (one
    * footer read), never as strings. */
  private[graft] def pruneEntries(spark: SparkSession, root: String,
      v: Long, key: String, lo: Option[String], hi: Option[String])
  : (Seq[FileEntry], Seq[FileEntry]) = {
    val (entries, mSchema) = readManifestFull(spark, root, v)
    pruneOf(spark, root, entries, mSchema, key, lo, hi)
  }

  /** Stats pruning over an explicit entry set — the DSv2 connector's
    * entry point into the same machinery. */
  private[sources] def pruneEntriesOf(spark: SparkSession, root: String,
      entries: Seq[FileEntry], mSchema: Option[StructType], key: String,
      lo: Option[String], hi: Option[String]): Seq[FileEntry] =
    pruneOf(spark, root, entries, mSchema, key, lo, hi)._1

  /** Driver-side ordering of manifest stat strings under the key's
    * type. Pruning compares TWO scalar bounds against driver-resident
    * file ranges — metadata work; a cluster job for it (the
    * touchedFiles shape, whose update-key side IS distributed) would
    * be metadata work at data prices. Date/timestamp stats render
    * ISO-style from `cast(string)`, which orders lexicographically. */
  private[sources] def statOrdering(dt: DataType)
  : Option[(String, String) => Int] =
    dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some((a, b) => java.lang.Long.compare(a.toLong, b.toLong))
      // SQL order: -0.0 = 0.0 (adding 0.0 drops the sign), NaN = NaN
      // and above every number, as Double.compare already has it
      case DoubleType | FloatType =>
        Some((a, b) =>
          java.lang.Double.compare(a.toDouble + 0.0, b.toDouble + 0.0))
      case _: DecimalType =>
        Some((a, b) => new java.math.BigDecimal(a)
          .compareTo(new java.math.BigDecimal(b)))
      case StringType | DateType | TimestampType =>
        Some((a, b) => a.compareTo(b))
      case _ => None // unorderable here: prune nothing, stay correct
    }

  private def pruneOf(spark: SparkSession, root: String,
      entries: Seq[FileEntry], mSchema: Option[StructType],
      key: String, lo: Option[String], hi: Option[String])
  : (Seq[FileEntry], Seq[FileEntry]) = {
    val (tombs, data) = entries.partition(_.kind == "t")
    val (withStats, without) =
      data.partition(_.statsFor(key).isDefined)
    if (withStats.isEmpty || (lo.isEmpty && hi.isEmpty))
      return (entries, Seq.empty)
    // key type from the manifest schema when recorded (v2) — `key`
    // may be a PHYSICAL epoch name of a renamed column, so fall back
    // to the field whose rename history contains it; one footer read
    // only on the v1 compatibility path
    val keyType = mSchema.flatMap(ms =>
      ms.fields.find(_.name == key).map(_.dataType)
        .orElse(ms.fields.find(f =>
          renameEpochs(f).exists(_.name == key)).map(_.dataType)))
      .getOrElse(spark.read
        .parquet(absolute(root, withStats.head)).schema(key).dataType)
    statOrdering(keyType) match {
      case None => (entries, Seq.empty)
      case Some(cmp) =>
        val (kept, skipped) = withStats.partition { e =>
          val (l, h) = e.statsFor(key).get
          lo.forall(b => cmp(h, b) >= 0) &&
            hi.forall(b => cmp(l, b) <= 0)
        }
        (tombs ++ without ++ kept, skipped)
    }
  }

  /** Predicate-pruned read — the read-side twin of MERGE's file
    * pruning, i.e. Iceberg-style scan planning. Returns exactly
    * `readVersion(v).filter(lo <= key AND key <= hi)` (bounds
    * optional, inclusive, given as strings cast to the key's type),
    * but data files whose manifest stats prove no row can match are
    * never opened. The residual filter still runs over the kept
    * files, so stats only ever SKIP work — they cannot change the
    * answer. MOR-safe: tombstones always load, and the kill only
    * removes rows, so pruning data files cannot resurrect
    * anything. At 100 TB this is the difference between a key-range
    * lookup costing O(matching files) and O(table). */
  def readWhere(spark: SparkSession, root: String, key: String,
      lo: Option[String] = None, hi: Option[String] = None,
      version: Option[Long] = None): DataFrame =
    readWherePruned(spark, root, Seq((key, lo, hi)), version)

  /** N-dimensional box read: one (key, lo, hi) range per curve
    * dimension, each pruning independently, kept set = intersection —
    * the read-side face of an N-column [[commitZOrdered]]: a box over
    * that layout opens only the files whose bounding box intersects
    * it, a guarantee a 1-D sort cannot give its second column. */
  def readWhereDims(spark: SparkSession, root: String,
      preds: Seq[(String, Option[String], Option[String])],
      version: Option[Long] = None): DataFrame =
    readWherePruned(spark, root, preds, version)

  private def readWherePruned(spark: SparkSession, root: String,
      preds: Seq[(String, Option[String], Option[String])],
      version: Option[Long]): DataFrame = {
    val v = committedVersion(spark, root, version)
    val (entries, mSchema) = readManifestFull(spark, root, v)
    // each predicate prunes independently; keeping the intersection
    // is sound because every pruneOf only ever SKIPS provably
    // non-matching files
    val kept = preds.foldLeft(entries) { case (es, (key, lo, hi)) =>
      pruneOf(spark, root, es, mSchema, key, lo, hi)._1
    }
    val base = scan(spark, root, v, kept, mSchema)
    preds.foldLeft(base) { case (df, (key, lo, hi)) =>
      val kt = df.schema(key).dataType
      df.filter(
        lo.fold(lit(true))(b => col(key) >= lit(b).cast(kt)) &&
          hi.fold(lit(true))(b => col(key) <= lit(b).cast(kt)))
    }
  }

  /** Prior files whose recorded key range OVERLAPS any staged file's
    * range — the metadata-only form of the touched-files test when the
    * probe side is itself a staged segment with per-file stats. A
    * prior file without stats on `key` is conservatively touched; a
    * staged file without stats holds only NULL keys, which match no
    * range (SQL comparison semantics), so it contributes no interval.
    * Zero Spark jobs. */
  private def rangesTouchLocal(prior: Seq[FileEntry],
      staged: Seq[FileEntry], key: String, dt: DataType)
  : Seq[FileEntry] =
    statOrdering(dt) match {
      case None => prior
      case Some(cmp) =>
        val ranges = staged.flatMap(_.statsFor(key))
        prior.filter(e => e.statsFor(key) match {
          case None => true
          case Some((plo, phi)) => ranges.exists { case (sl, sh) =>
            cmp(sl, phi) <= 0 && cmp(sh, plo) >= 0 }
        })
    }

  /** Driver-side twin of [[touchedFiles]] for an ALREADY-COLLECTED
    * probe set: classify files by whether any probe falls inside their
    * recorded [lo, hi] — a sorted-probe binary search per file in the
    * SAME rendered-string coordinate system [[pruneOf]] prunes in,
    * zero Spark jobs (the broadcast-join form launched one per call;
    * a point lookup's keys are already on the driver). Unorderable
    * types conservatively touch everything, like the join form's
    * untyped fallback never pruning incorrectly. */
  private def touchedFilesLocal(spark: SparkSession,
      entries: Seq[FileEntry], probes: Array[Any], dt: DataType,
      key: String): (Seq[FileEntry], Seq[FileEntry]) = {
    val (withStats, without) =
      entries.partition(_.statsFor(key).isDefined)
    if (withStats.isEmpty) return (entries, Seq.empty)
    statOrdering(dt) match {
      case None => (entries, Seq.empty)
      case Some(cmp) =>
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        val rendered = probes.iterator.filter(_ != null)
          .flatMap(v => renderStat(Bloom.toCatalyst(v), dt, tz))
          .toArray
        java.util.Arrays.sort(rendered, new java.util.Comparator[String] {
          override def compare(a: String, b: String): Int = cmp(a, b)
        })
        def anyIn(lo: String, hi: String): Boolean = {
          var a = 0
          var b = rendered.length
          while (a < b) {
            val m = (a + b) >>> 1
            if (cmp(rendered(m), lo) < 0) a = m + 1 else b = m
          }
          a < rendered.length && cmp(rendered(a), hi) <= 0
        }
        val (touched, carried) = withStats.partition { e =>
          val (l, h) = e.statsFor(key).get
          anyIn(l, h)
        }
        (without ++ touched, carried)
    }
  }

  /** Point-lookup read: the rows whose `key` equals a value in `keys`
    * (a DataFrame exposing the key column). Scan planning first: only
    * files whose manifest [lo, hi] can contain one of the requested
    * keys are opened — the [[touchedFiles]] shape MERGE prunes with,
    * here serving reads — then a membership filter keeps exact matches.
    * Cost is O(matching files + key set), never O(table): the
    * fetch-these-ids access a 100 TB serving layer runs constantly.
    * MOR-safe for the same reason [[readWhere]] is: tombstones always
    * load, and the read applies them before the membership filter. */
  def readKeys(spark: SparkSession, root: String, key: String,
      keys: DataFrame, version: Option[Long] = None): DataFrame = {
    val v = committedVersion(spark, root, version)
    val (entries, mSchema) = readManifestFull(spark, root, v)
    val (tombs, data) = entries.partition(_.kind == "t")
    // probe in the TABLE's key type: the manifest blooms hashed the
    // column as stored, so a lookup arriving as a narrower/other type
    // must cast first or every probe would hash a different value —
    // bloom false NEGATIVES, the one failure mode pruning cannot have.
    // TRY-cast: a lookup value the table type cannot represent must
    // match NOTHING (what the untyped join always did), not blow up
    // the read under ANSI cast semantics; the nulls drop out of both
    // the probe set and the membership filter.
    val tableKeyType = mSchema.flatMap(_.fields.find(_.name == key))
      .map(_.dataType)
    val castKeys = tableKeyType.fold(keys.select(keys(key)))(t =>
      keys.select(keys(key).try_cast(t).as(key)))
      .filter(col(key).isNotNull)
    val keyType = castKeys.schema(key).dataType
    // the key set reaches the driver ONCE and serves stats pruning,
    // bloom probing AND the filter. A key list the optimizer folds to a
    // LocalRelation is read off the plan with no job; any other frame
    // is collected (capped) by probeFiles
    val (statsTouched, probes) =
      castKeys.queryExecution.optimizedPlan match {
        case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(keyType)
          val p = r.data.map(row => toScala(row.get(0, keyType)))
            .distinct.toArray
          (touchedFilesLocal(spark, data, p, keyType, key)._1, Some(p))
        case _ =>
          val (t, _, p) =
            probeFiles(spark, root, data, castKeys.distinct(), key)
          (t, p)
      }
    val touched = probes.fold(statsTouched)(p =>
      bloomPrune(statsTouched, p, keyType, key))
    val base = scan(spark, root, v, touched ++ tombs, mSchema)
    probes match {
      case Some(p) if inSetMatchesJoin(keyType) =>
        // the columns in the order the USING semi join gives: key first
        val (k, rest) = base.columns
          .partition(spark.sessionState.analyzer.resolver(_, key))
        base.filter(inSet(spark, base(key), p)).select((k ++ rest)
          .map(c => base("`" + c.replace("`", "``") + "`")): _*)
      case Some(p) => base.join(spark.createDataFrame(
        java.util.Arrays.asList(p.map(org.apache.spark.sql.Row(_)): _*),
        castKeys.schema), Seq(key), "left_semi")
      case None => base.join(castKeys.distinct(), Seq(key), "left_semi")
    }
  }

  /** Key types whose `InSet` keeps exactly the rows the equi semi join
    * keeps AND whose generated code reads the set through a reference,
    * so a new key set reuses the compiled class. The rest keep the
    * join: float/double (the join normalizes NaN and -0.0, the set's
    * boxed equality does not), binary (array identity), complex types,
    * and byte/short/int/date, whose `InSet` codegen inlines every value
    * into a switch below `spark.sql.optimizer.inSetSwitchThreshold`. */
  private def inSetMatchesJoin(dt: DataType): Boolean = dt match {
    case LongType | StringType | BooleanType | TimestampType |
        TimestampNTZType | _: DecimalType => true
    case _ => false
  }

  /** `c` IN `probes` (driver values of `c`'s type, non-NULL) as one
    * catalyst `InSet`. `isin` would build `In` below 10 values, which
    * inlines each value and compiles a class per request. The
    * expression is built by a temp function, the public route to a
    * catalyst expression: its builder evaluates the array argument at
    * analysis, so the plan keeps only the set. */
  private def inSet(spark: SparkSession, c: Column,
      probes: Array[Any]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, InSet}
    val reg = spark.sessionState.functionRegistry
    // registered once per session: a replacement logs a warning per call
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(InSetFunction)))
      reg.createOrReplaceTempFunction(InSetFunction, args => {
        val dt = args(0).dataType
        val set = Cast(args(1), ArrayType(dt),
          Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          .eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toSeq[Any](dt).toSet
        InSet(args(0), set)
      }, "built-in")
    org.apache.spark.sql.functions.call_function(InSetFunction, c,
      org.apache.spark.sql.functions.array(probes.toSeq.map(lit): _*))
  }

  private val InSetFunction = "graft_in_set"

  /** Point lookups stay metadata-priced up to this many distinct keys;
    * beyond it the request is a join, not a lookup, and collecting the
    * key set for driver-side bloom probes would no longer be metadata
    * work — bloom pruning quietly steps aside (stats pruning, which
    * never collects the keys, still applies). */
  private val MaxBloomProbeKeys = 10000

  /** Classify `entries` against the key set `keys` (one column named
    * `key`, duplicate-free): (touched, carried, collected keys). Up to
    * [[MaxBloomProbeKeys]] keys are collected in one job and classified
    * on the driver ([[touchedFilesLocal]], no further job); the caller
    * reuses them (bloom probes, a local relation, a membership filter)
    * with no second evaluation of `keys`. A larger
    * set is join-sized: it stays distributed and pays the
    * broadcast-join classification ([[touchedFiles]]). The split
    * depends only on the input, and MERGE, [[diff]] and [[readKeys]]
    * all make it here. */
  private def probeFiles(spark: SparkSession, root: String,
      entries: Seq[FileEntry], keys: DataFrame, key: String)
  : (Seq[FileEntry], Seq[FileEntry], Option[Array[Any]]) =
    describedJobs(spark, "graft_probe_keys") {
      val rows = keys.limit(MaxBloomProbeKeys + 1).collect()
      if (rows.length <= MaxBloomProbeKeys) {
        val probes = rows.map(_.get(0))
        val (touched, carried) = touchedFilesLocal(spark, entries, probes,
          keys.schema(key).dataType, key)
        (touched, carried, Some(probes))
      } else {
        val (touched, carried) =
          touchedFiles(spark, root, entries, keys, key)
        (touched, carried, None)
      }
    }

  /** Secondary-index pruning: drop data files whose manifest bloom on
    * `key` proves none of the requested keys can be present. This is
    * what serves a point lookup on a NON-cluster column — min/max on
    * an unclustered column spans the whole table, so [[touchedFiles]]
    * keeps everything, but a per-file membership sketch does not care
    * about ordering. A bloom hit only fails to prune; there are no
    * false negatives, so pruning cannot change the answer. Files
    * without a bloom on `key` (older commits, MOR segments) are
    * conservatively kept. Each filter decodes ONCE and each probe
    * hashes ONCE — the loop is (files × keys) bit tests, not (files ×
    * keys) sketch deserializations. `probes` are driver values of
    * `keyType`; `key` is the name the files record their bloom under
    * (a renamed column's physical epoch name). The connector's
    * equality/IN pruning probes through here too. */
  private[sources] def bloomPrune(entries: Seq[FileEntry],
      probes: Iterable[Any], keyType: DataType,
      key: String): Seq[FileEntry] = {
    if (!entries.exists(e => e.bloomKey.contains(key) && e.bloom.isDefined))
      return entries
    // SQL equality has -0.0 = 0.0, but a sketch hashed the stored bits,
    // so a zero probe tests both signs
    val hashes = probes.filter(_ != null).flatMap {
      case d: Double if d == 0.0 => Seq(0.0, -0.0)
      case f: Float if f == 0.0f => Seq(0.0f, -0.0f)
      case v => Seq(v)
    }.map(v => graft.functions.Hll.hashValue(
        graft.functions.Bloom.toCatalyst(v), keyType))
    entries.filter { e =>
      if (e.bloomKey.contains(key) && e.bloom.isDefined) {
        val (k, words) = graft.functions.Bloom.fromBytes(e.bloom.get)
        hashes.exists(h =>
          graft.functions.Bloom.mightContain(words, k, h))
      } else true
    }
  }

  /** THE read: `entries` of version `v` — data files and the
    * tombstones that apply to them — as a DataFrame over the
    * connector's scan. The table decides which files; the scan reads
    * them under `schema` (nullable; the manifest schema by default,
    * footer-inferred on a pre-schema v1 manifest), applying rename
    * epochs, initial defaults and merge-on-read kills (a row dies iff
    * a tombstone with a STRICTLY NEWER seq covers its key, so a MOR
    * commit's own replacement rows live while every older copy dies),
    * pruning files and row groups by pushed filters, and serving
    * `_file`. Zero data files plan an empty scan. */
  private def scan(spark: SparkSession, root: String, v: Long,
      entries: Seq[FileEntry], schema: Option[StructType]): DataFrame =
    graft.sources.connector.GraftPinnedTable.frame(spark, root, v,
      entries, schema)

  /** The scan's per-row data-file path (the connector's `_file`). */
  private val FileColumn = "_file"

  // ---- initial defaults (read-side ADD COLUMN DEFAULT fill) ----
  // Iceberg's initial-default: `ADD COLUMNS (c T DEFAULT v)` records
  // the evaluated literal AND the version that added the column in
  // the manifest schema's field metadata. Reads then materialize the
  // default for files written BEFORE the column existed (seq <
  // addedAt) — old rows surface the declared value, not NULL — while
  // post-evolution files read their stored values (absent there still
  // means NULL, exactly Iceberg's write-time/exists split).
  private[graft] val InitDefaultKey = "graft.initdefault"
  private[graft] val InitDefaultAtKey = "graft.initdefault.addedAt"

  private[graft] case class InitFill(name: String, dataType: DataType,
      addedAt: Long, rendered: String) {
    /** The typed Scala value for `lit`/vector fill — same rendering
      * contract as the connector's current-default properties. */
    def value: Any = dataType match {
      case org.apache.spark.sql.types.IntegerType => rendered.toInt
      case org.apache.spark.sql.types.LongType => rendered.toLong
      case org.apache.spark.sql.types.DoubleType => rendered.toDouble
      case org.apache.spark.sql.types.FloatType => rendered.toFloat
      case org.apache.spark.sql.types.BooleanType => rendered.toBoolean
      case org.apache.spark.sql.types.StringType => rendered
      case other => throw new IllegalStateException(
        s"unsupported initial-default type $other for '$name'")
    }
  }

  private[graft] def initFills(schema: StructType): Seq[InitFill] =
    schema.fields.toSeq.flatMap { f =>
      if (f.metadata.contains(InitDefaultKey) &&
        f.metadata.contains(InitDefaultAtKey))
        Some(InitFill(f.name, f.dataType,
          f.metadata.getLong(InitDefaultAtKey),
          f.metadata.getString(InitDefaultKey)))
      else None
    }

  /** Commit-time guard for the merge-on-read ops: every tombstone of a
    * table must use ONE key column, or reads would be ill-defined.
    * Failing the commit beats committing an unreadable table. */
  private def requireTombKey(prior: Seq[FileEntry], key: String,
      root: String): Unit = {
    val other = prior.filter(_.kind == "t")
      .flatMap(_.statsKey).distinct.filterNot(_ == key)
    require(other.isEmpty,
      s"table at $root already has tombstones keyed by " +
        s"${other.mkString(",")}; cannot mix with key '$key'")
  }

  /** AGE-based retention (Iceberg's `expire_snapshots(older_than)`):
    * drop every version committed at or before `olderThanMs` (epoch
    * millis, judged against the commit record's mtime — the same
    * clock `versionAsOf` time-travels by, so "expire what I can no
    * longer time-travel to" composes exactly). The current version
    * and tagged versions always survive, count-based
    * [[expireSnapshots]] mechanics otherwise. */
  def expireSnapshotsOlderThan(spark: SparkSession, root: String,
      olderThanMs: Long): Seq[Long] = {
    val all = versions(spark, root)
    if (all.isEmpty) return Seq.empty
    // the mtime-filtered set is passed EXPLICITLY, not converted to a
    // keep-count: commit-record mtimes need not be monotone in version
    // number (cross-writer clock skew, backdated mtimes), and a count
    // would expire the oldest versions instead of the aged ones —
    // breaking "expire exactly what versionAsOf can no longer reach"
    val aged = all.dropRight(1) // current always survives
      .filter(v => commitTime(spark, root, v) <= olderThanMs)
    expireVersionSet(spark, root, aged)
  }

  /** Drop all snapshots older than the newest `keep`. Returns the
    * versions deleted. Data files are REFERENCE-COUNTED: a file is
    * deleted only when no SURVIVING manifest references it (versions
    * share files, so expiring an old version must not tear files out
    * from under the current one). Record first, then manifest, then
    * data: a reader can never resolve a version whose data is already
    * gone. Expiry is the ONLY operation that can invalidate an
    * in-flight reader (one still scanning an expired file), which is
    * why retention is a policy knob and not automatic. */
  def expireSnapshots(spark: SparkSession, root: String, keep: Int)
  : Seq[Long] = {
    require(keep >= 1, "must keep at least the current snapshot")
    val all = versions(spark, root)
    expireVersionSet(spark, root, all.dropRight(keep))
  }

  /** Shared expiry machinery over an EXPLICIT candidate set (already
    * guaranteed to exclude the current version by both callers). Tag
    * pins and file reference-counting applied here, once. */
  private def expireVersionSet(spark: SparkSession, root: String,
      candidates: Seq[Long]): Seq[Long] = {
    val f = fs(spark, root)
    val all = versions(spark, root)
    // a tagged version is pinned by name — retention never reaps it,
    // so `VERSION AS OF '<tag>'` keeps resolving (the reproducibility
    // contract tags exist for). Drop the tag to release the snapshot.
    // Branch HEADS and BASES pin the same way (head = what the branch
    // reads; base = what fast-forward validates against); interior
    // chain versions may expire — head resolution walks markers, not
    // manifests. Drop the branch to release them.
    val tagged = tags(spark, root).values.toSet
    val refPinned: Set[Long] = branches(spark, root).flatMap(b =>
      Seq(branchHead(spark, root, b), branchBase(spark, root, b))).toSet
    val doomed = candidates.filterNot(tagged).filterNot(refPinned)
    if (doomed.isEmpty) return doomed
    val surviving = all.filterNot(doomed.contains)
    val kept = surviving.flatMap(readManifest(spark, root, _))
      .map(_.path).toSet
    // a survivor's DELTA manifest resolves through its base chain —
    // those base manifest FILES must outlive the expiry even though
    // their versions become unreachable (commit record deleted, so
    // VERSION AS OF still fails). They are text, not data; the data
    // files they mention are reclaimed normally below, and a later
    // expiry reaps the manifest itself once no survivor chains
    // through it (compaction/replace reset chains with full
    // manifests).
    val baseRefs: Set[Long] = surviving.flatMap(v =>
      Iterator.iterate(manifestBase(f, root, v))(b =>
        b.flatMap(manifestBase(f, root, _)))
        .takeWhile(_.isDefined).flatten.toSeq).toSet
    // resolve every doomed manifest BEFORE deleting any: a doomed
    // delta may chain through an earlier-doomed base
    val minePerV = doomed.map(v =>
      v -> readManifest(spark, root, v).map(_.path)).toMap
    doomed.foreach { v =>
      val mine = minePerV(v)
      f.delete(new Path(commitsDir(root), v.toString), false)
      f.delete(new Path(commitsDir(root), s"$v.claim"), false)
      f.delete(new Path(commitsDir(root), s"$v.op"), false)
      if (!baseRefs(v))
        f.delete(new Path(manifestsDir(root), v.toString), false)
      // absolute paths are FOREIGN files shared from a clone source —
      // this table's retention never deletes another table's data
      // (the source's own tagged-version pin governs their lifetime)
      mine.filterNot(kept).filterNot(_.startsWith("/")).foreach(p =>
        f.delete(new Path(root, p), false))
    }
    // drop segment dirs emptied by the per-file deletes
    val dd = dataDir(root)
    if (f.exists(dd)) f.listStatus(dd).foreach { st =>
      if (st.isDirectory && f.listStatus(st.getPath).isEmpty)
        f.delete(st.getPath, true)
    }
    doomed
  }

  /** "Now" as the FILESYSTEM sees it: the mtime of a freshly created
    * probe file, so age comparisons use one clock (the namenode's) —
    * the local wall clock can be arbitrarily skewed from the cluster's
    * in a distributed deployment. */
  private def fsNow(f: FileSystem, root: String): Long = {
    val probe = new Path(root,
      s"._vacuum_probe-${java.util.UUID.randomUUID().toString.take(8)}")
    f.create(probe, true).close()
    try f.getFileStatus(probe).getModificationTime
    finally f.delete(probe, false)
  }

  /** Remove crashed-commit leftovers: orphan claims (claimed but never
    * published), orphan manifests, and data segments no manifest
    * references. None is reachable by readers. `minAgeMs` is the
    * safety floor against IN-FLIGHT commits (a committer between
    * staging and publish looks identical to a crash): only leftovers
    * older than it are reaped — the same retention contract a table
    * format's VACUUM has. A committer paused longer than `minAgeMs`
    * loses its commit, and loses it CLEANLY: publish re-verifies the
    * claim and the referenced files and aborts rather than minting a
    * committed version whose data was reaped.
    *
    * Safety details (each closed a real race):
    *  - ages compare against a filesystem probe mtime, not the local
    *    clock (clock skew across a cluster);
    *  - claims are deleted before data, so the owning committer's
    *    publish aborts before its files can vanish under a reader;
    *  - the committed set and the claim's existence are RE-CHECKED
    *    immediately before every delete — a commit that landed after
    *    vacuum's first listing must not have its pieces reaped;
    *  - a segment referenced by ANY manifest on disk (committed or
    *    not) is never touched: in-flight commits become vacuum-proof
    *    the moment their manifest is written.
    * Returns the paths removed. */
  def vacuum(spark: SparkSession, root: String,
      minAgeMs: Long = 10 * 60 * 1000L): Seq[String] = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return Seq.empty
    val cutoff = fsNow(f, root) - minAgeMs
    def oldEnough(p: Path): Boolean =
      try f.getFileStatus(p).getModificationTime <= cutoff
      catch { case _: java.io.IOException => false }
    def committedNow(): Set[Long] = versions(spark, root).toSet
    val removed = Seq.newBuilder[String]

    // 1. orphan claims (no commit record), oldest snapshot of the
    //    committed set re-read per delete
    val cd = commitsDir(root)
    if (f.exists(cd)) f.listStatus(cd).toSeq.map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.endsWith(".claim") &&
        n.stripSuffix(".claim").forall(_.isDigit) && oldEnough(p) &&
        !committedNow()(n.stripSuffix(".claim").toLong)) {
        f.delete(p, false)
        removed += p.toString
      }
      // orphan advisory op siblings (crashed between .op write and
      // commit-record create, or record expired out of band)
      if (n.endsWith(".op") &&
        n.stripSuffix(".op").forall(_.isDigit) && oldEnough(p) &&
        !committedNow()(n.stripSuffix(".op").toLong)) {
        f.delete(p, false)
        removed += p.toString
      }
    }
    // 1b. wedged branch transitions: a tx-<H> whose winner crashed
    //     before writing nx-<H>-* blocks every later commit from H;
    //     reap it after the age floor so the branch unwedges (the
    //     crashed commit, if it published, stays in the log as an
    //     unreachable version). A tx WITH a matching nx is the
    //     permanent record of a taken transition — never reaped.
    branches(spark, root).foreach { b =>
      val dir = branchDir(root, b)
      val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
      val taken = names.collect { case s if s.startsWith("nx-") =>
        s.stripPrefix("nx-").split('-')(0).toLong }.toSet
      names.foreach { n =>
        if (n.startsWith("tx-") && !taken(n.stripPrefix("tx-").toLong)
          && oldEnough(new Path(dir, n))) {
          f.delete(new Path(dir, n), false)
          removed += new Path(dir, n).toString
        }
      }
    }
    // 2. orphan manifests: not committed AND no surviving claim (the
    //    claim was reaped above or in an earlier pass — while a claim
    //    lives, its manifest is an in-flight commit, not garbage) AND
    //    not a delta-chain base of any committed manifest (expiry
    //    deliberately leaves such bases behind as resolution text)
    val md = manifestsDir(root)
    def baseRefsNow(): Set[Long] = committedNow().flatMap(v =>
      try Iterator.iterate(manifestBase(f, root, v))(b =>
        b.flatMap(manifestBase(f, root, _)))
        .takeWhile(_.isDefined).flatten.toSeq
      catch { case _: java.io.IOException => Seq.empty })
    if (f.exists(md)) f.listStatus(md).toSeq.map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.forall(_.isDigit) && oldEnough(p) &&
        !committedNow()(n.toLong) &&
        !f.exists(new Path(cd, s"$n.claim")) &&
        !baseRefsNow()(n.toLong)) {
        f.delete(p, false)
        removed += p.toString
      }
    }
    // 3. data segments referenced by NO manifest on disk (committed or
    //    in-flight), older than the floor. The referenced set is
    //    REBUILT immediately before each delete: a commit can land
    //    between the candidate listing and the delete (its manifest
    //    appearing after the first read), and reaping its segment then
    //    would mint a committed version with no data. Re-reading
    //    manifests per candidate is metadata-only and vacuum is
    //    maintenance, not a hot path.
    def referencedNow(): Set[String] = {
      if (!f.exists(md)) Set.empty
      else f.listStatus(md).toSeq.map(_.getPath.getName)
        .filter(_.forall(_.isDigit))
        .flatMap(v =>
          try readManifest(spark, root, v.toLong)
          catch { case _: java.io.IOException => Seq.empty })
        // qualified (scheme-carrying) form to match listStatus paths
        .map(e => f.makeQualified(new Path(root, e.path)).toString).toSet
    }
    val dd = dataDir(root)
    if (f.exists(dd)) {
      val candidates = f.listStatus(dd).toSeq
        .filter(st => st.isDirectory && oldEnough(st.getPath))
        .map(_.getPath)
      candidates.foreach { p =>
        val referenced = referencedNow()
        // a failed listing means "unknown", never "unreferenced"
        val partsOpt =
          try Some(f.listStatus(p).toSeq.map(_.getPath))
          catch { case _: java.io.IOException => None }
        partsOpt.foreach { parts =>
          if (!parts.exists(pp => referenced.contains(pp.toString))) {
            f.delete(p, true)
            removed += p.toString
          }
        }
      }
    }
    removed.result()
  }
}
