package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.streaming.SinkSession

/** Materialized rollup over a [[SnapshotTable]] — the dashboard pattern
  * the reference serves by RE-RUNNING every aggregation per page load
  * (`api-service/data_service.py`): compute once, serve many, refresh
  * on data change.
  *
  * The view is itself a SnapshotTable, so every property composes for
  * free: refresh is an atomic commit (readers of the old rollup never
  * see a half-written one), history is time travel, and `diff` shows
  * what a refresh changed. Freshness is tracked by recording WHICH
  * source version a refresh consumed — `isStale` is then one metadata
  * comparison, no data read.
  *
  * Scale: refresh cost is the rollup query itself (typically one keyed
  * aggregation over the source snapshot) — or O(changed rows) on the
  * incremental path; serving cost is a scan of the (small)
  * materialized result. The refresh-vs-reread tradeoff is the same one
  * the reference's per-request recomputation gets wrong at any scale
  * past a demo.
  */
object MaterializedView {

  /** `transform` must be a pure function of the source snapshot.
    * With `clusterKey` every refresh commits the rollup RANGE-CLUSTERED
    * on that column with per-file min/max stats — which is what lets
    * [[SnapshotTable.readKeys]]/[[SnapshotTable.readWhere]] serve
    * point lookups from the view opening only the matching files (the
    * compute-once/serve-many pattern with a pruned serve side). */
  final case class View(sourceRoot: String, viewRoot: String,
      transform: DataFrame => DataFrame,
      clusterKey: Option[String] = None)

  /** Freshness markers are versioned, append-only files
    * (`_source_version.<viewV>` holding the consumed source version):
    * exclusive-create per refresh, never rewritten — the same
    * no-shared-mutable-pointer discipline as the commit log, so
    * concurrent refreshes cannot interleave a delete/rename and a
    * racing reader can never observe "no marker". The CURRENT marker is
    * the one with the highest view version. */
  private def markerPrefix = "_source_version."

  /** The source version the last refresh consumed; 0 = never refreshed. */
  def refreshedAgainst(spark: SparkSession, viewRoot: String): Long = {
    val f = SnapshotTable.fs(spark, viewRoot)
    val rootPath = new Path(viewRoot)
    if (!f.exists(rootPath)) return 0L
    val markers = f.listStatus(rootPath).toSeq.map(_.getPath)
      .filter { p =>
        p.getName.startsWith(markerPrefix) &&
          p.getName.stripPrefix(markerPrefix).forall(_.isDigit)
      }
    if (markers.isEmpty) 0L
    else {
      val latest = markers.maxBy(_.getName.stripPrefix(markerPrefix).toLong)
      val in = f.open(latest)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  /** The source version consumed by EXACTLY view version `viewV` (the
    * version-pinned form the incremental path needs: reading "the
    * latest marker" and "the view snapshot" at different instants lets
    * a concurrent refresh slip in between and get its delta applied
    * twice). None when `viewV` has no marker. */
  private def markerFor(spark: SparkSession, viewRoot: String,
      viewV: Long): Option[Long] = {
    val f = SnapshotTable.fs(spark, viewRoot)
    val p = new Path(viewRoot, s"$markerPrefix$viewV")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim.toLong)
      finally in.close()
    }
  }

  private def writeFreshness(spark: SparkSession, viewRoot: String,
      sourceV: Long, viewV: Long): Unit = {
    val f = SnapshotTable.fs(spark, viewRoot)
    val p = new Path(viewRoot, s"$markerPrefix$viewV")
    val out = f.create(p, false) // one refresh per view version
    try out.write(sourceV.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Stale iff the source has committed past the version the view last
    * consumed. Metadata-only: two tiny listings, no data read. */
  def isStale(spark: SparkSession, v: View): Boolean =
    SnapshotTable.currentVersion(spark, v.sourceRoot) >
      refreshedAgainst(spark, v.viewRoot)

  /** Recompute the rollup from the CURRENT source snapshot and commit it
    * as a new view version. Resolves the source version FIRST, so a
    * source commit racing the refresh leaves the view stale (and
    * `isStale` says so) rather than recording a version it never read.
    * Returns the new view version. */
  def refresh(spark: SparkSession, v: View): Long = {
    val sourceV = SnapshotTable.currentVersion(spark, v.sourceRoot)
    val result = v.transform(
      SnapshotTable.readVersion(spark, v.sourceRoot, sourceV))
    val viewV = SnapshotTable.commit(spark, v.viewRoot, result,
      clusterKey = v.clusterKey,
      files = SnapshotTable.adaptiveFiles(spark, v.viewRoot))
    writeFreshness(spark, v.viewRoot, sourceV, viewV)
    viewV
  }

  /** Serve the materialized result (current view snapshot). */
  def read(spark: SparkSession, v: View): DataFrame =
    SnapshotTable.read(spark, v.viewRoot)

  // ---- incremental refresh ----

  /** A view restricted to keyed COUNT + SUM aggregates — exactly the
    * class where applying a row-level delta is algebraically exact, so
    * an incremental refresh costs O(changed rows), not O(source).
    *
    * Two subtleties make "exact" hold to the BIT (the spec asserts
    * equality with a full recompute, not an epsilon):
    *  - sums are DECIMAL(20,2): decimal addition is associative and
    *    commutative, floats are neither;
    *  - each sum column also materializes its NON-NULL count
    *    (`cnt_<col>`). `sum` over an all-NULL group is NULL, and
    *    (old sum) + (delta sum) cannot distinguish "sums to zero" from
    *    "no non-null values left" — the count can, and nulls the sum
    *    when it hits zero. This is the standard counting trick of
    *    incremental view maintenance, surfaced as a visible
    *    maintenance column. */
  /** `minMaxCols` adds `min_<c>` / `max_<c>` to the view. MIN/MAX are
    * NOT invertible under deletes (retracting the current minimum says
    * nothing about the runner-up), so maintenance splits per group:
    * groups touched only by INSERTS merge monotonically
    * (`least`/`greatest` — exact, zero source IO), and groups touched
    * by any DELETE are recomputed exactly from the source restricted
    * to those group keys — O(affected groups' rows), key-pruned
    * through the manifest. This is the standard bounded-recompute
    * treatment of non-invertible aggregates in incremental view
    * maintenance. */
  /** `avgCols` adds a SERVED-EXACT `avg_<c>` column: avg is not
    * additive, but it is DERIVED — the view maintains (sum, cnt) for
    * the column (the same decimal-sum + non-null-count pair `sumCols`
    * keeps) and materializes `avg_<c> = CAST(sum AS DOUBLE) / cnt` on
    * every commit. The derivation re-runs on each merge, so the
    * served average is always the exact quotient of exact parts —
    * never an "averaged average".
    *
    * `ndvCols` adds `ndv_<c>`, an APPROXIMATE count(DISTINCT c) via a
    * mergeable HLL sketch column (`hll_<c>`, the graft_hll register
    * family): inserts union registers monotonically; HLL is NOT
    * invertible under deletes, so delete-touched groups take the same
    * bounded exact-recompute path `minMaxCols` uses. EXACT distinct
    * is refused loudly at the procedure surface — maintaining it
    * incrementally means keeping every distinct value per group,
    * which is the source table again. */
  final case class IncrementalView(sourceRoot: String, viewRoot: String,
      keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil,
      avgCols: Seq[String] = Nil,
      ndvCols: Seq[String] = Nil) {
    /** Columns maintaining a (sum, cnt) pair: declared sums + the
      * pairs avg derives from, each kept once. */
    private[sources] def allSums: Seq[String] =
      (sumCols ++ avgCols).distinct
    /** Any non-invertible aggregate present → deletes route through
      * the bounded exact recompute. */
    private[sources] def nonInvertible: Boolean =
      minMaxCols.nonEmpty || ndvCols.nonEmpty
  }

  /** Append the DERIVED serving columns (avg from its sum/cnt pair,
    * ndv from its HLL registers) — recomputed on every materialized
    * frame, so they can never drift from their maintenance columns. */
  private def withDerived(df: DataFrame, avgCols: Seq[String],
      ndvCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    if (ndvCols.nonEmpty)
      graft.functions.GraftFunctions.register(df.sparkSession)
    val withAvg = avgCols.foldLeft(df)((d, c) =>
      // sum is NULL when cnt hits 0 (the counting trick), so the
      // quotient is NULL exactly when SQL avg() would be
      d.withColumn(s"avg_$c",
        col(s"sum_$c").cast("double") / col(s"cnt_$c")))
    ndvCols.foldLeft(withAvg)((d, c) =>
      d.withColumn(s"ndv_$c", expr(s"graft_hll_estimate(hll_$c)")))
  }

  private def rollup(df: DataFrame, v: IncrementalView): DataFrame = {
    import org.apache.spark.sql.functions._
    if (v.ndvCols.nonEmpty)
      graft.functions.GraftFunctions.register(df.sparkSession)
    // sums land as DECIMAL(20,2), the SAME type the merged refresh
    // writes — a view whose history mixes full and delta commits must
    // keep ONE schema (its own diff is the cascading-MV delta feed)
    withDerived(df.groupBy(v.keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        (v.allSums.flatMap(c => Seq(
          sum(col(c).cast("decimal(20,2)")).cast("decimal(20,2)")
            .as(s"sum_$c"),
          count(col(c)).as(s"cnt_$c"))) ++
          v.minMaxCols.flatMap(c => Seq(
            min(col(c)).as(s"min_$c"),
            max(col(c)).as(s"max_$c"))) ++
          v.ndvCols.map(c =>
            expr(s"graft_hll_sketch($c)").as(s"hll_$c"))): _*),
      v.avgCols, v.ndvCols)
  }

  private def asView(v: IncrementalView): View =
    View(v.sourceRoot, v.viewRoot, df => rollup(df, v),
      clusterKey = v.keys.headOption)

  def isStale(spark: SparkSession, v: IncrementalView): Boolean =
    isStale(spark, asView(v))

  def read(spark: SparkSession, v: IncrementalView): DataFrame =
    SnapshotTable.read(spark, v.viewRoot)

  /** Refresh by DELTA when possible: aggregate only the source's
    * change rows since the last consumed source version (insertions
    * count +1, deletions -1; see [[signedRows]]), join the signed delta
    * onto the materialized rollup, and commit the merged result. With
    * the manifest-based snapshot log the delta READ is O(changed files)
    * too — for an append-only source the refresh scans exactly the new
    * batch's files, never the table. The `graft_mv_delta` observation
    * surfaces the signed rows consumed, so the spec can pin that
    * property: on an append-only range, the rows added; on a
    * copy-on-write range of a COUNT/SUM/AVG view, the rows of the added
    * files plus the rows of the removed files (a row a rewrite carried
    * over counts twice, once per sign); on a MIN/MAX/NDV view or a
    * merge-on-read range, the rows `SnapshotTable.diff` reports. The
    * join is NULL-SAFE on the group keys (a NULL key is one group, and
    * an equality join would orphan it into duplicate rows). Groups
    * whose row count reaches zero are dropped. No-ops (view already at
    * the source's version) return without committing. Falls back to a
    * full recompute on first refresh or when the previously-consumed
    * source version has been expired.
    *
    * Concurrency: the merged rollup is DERIVED from a specific view
    * version, so it commits via the CAS primitive — if another refresh
    * landed in between, applying this delta on top would double-count
    * it; instead the loser detects the conflict and falls back to a
    * full recompute (version-independent, safe to commit on top of
    * anything). */
  def refreshIncremental(spark: SparkSession, v: IncrementalView): Long = {
    import org.apache.spark.sql.functions._
    // pin the VIEW version first, then resolve marker + snapshot + CAS
    // all against that one version: reading the latest marker and the
    // view snapshot at different instants would let a refresh that
    // lands in between have its delta applied a second time (the CAS
    // alone cannot catch it — marker and snapshot would already agree)
    val viewCur = SnapshotTable.currentVersion(spark, v.viewRoot)
    val lastV =
      if (viewCur == 0L) 0L
      else markerFor(spark, v.viewRoot, viewCur).getOrElse(0L)
    val curV = SnapshotTable.currentVersion(spark, v.sourceRoot)
    if (lastV == curV && lastV > 0)
      return viewCur // fresh: no-op
    val canDelta = lastV > 0 && lastV < curV &&
      SnapshotTable.versions(spark, v.sourceRoot).contains(lastV)
    if (!canDelta) return refresh(spark, asView(v))

    val delta = signedRows(spark, v, lastV, curV)
      .observe("graft_mv_delta", count(lit(1)).as("delta_rows"))
    val (merged, cleanup) = incrDeltaFrame(spark, v, viewCur, delta, curV)
    val viewV =
      try SnapshotTable.commitExpecting(spark, v.viewRoot, merged,
        expectedCurrent = viewCur, clusterKey = v.keys.headOption,
        files = SnapshotTable.adaptiveFiles(spark, v.viewRoot))
      catch {
        // a concurrent refresh landed first: applying OUR delta onto
        // ITS rollup would double-count the overlap — recompute instead
        case _: SnapshotTable.CommitConflict =>
          return refresh(spark, asView(v))
      } finally cleanup()
    writeFreshness(spark, v.viewRoot, curV, viewV)
    viewV
  }

  /** The source's change rows from `from` to `to`, signed `__sign` =
    * +1 (inserted) / -1 (deleted) — what both the committing refresh
    * and [[readFresh]] fold in. A view of COUNT/SUM/AVG only takes the
    * signed file delta on a copy-on-write range (rows a rewrite carried
    * over appear at +1 and -1 and cancel in the aggregates); MIN/MAX
    * and NDV views, which cannot cancel, take the exact `diff` rows.
    * See [[SnapshotTable.signedChanges]]. */
  private def signedRows(spark: SparkSession, v: IncrementalView,
      from: Long, to: Long): DataFrame =
    SnapshotTable.signedChanges(spark, v.sourceRoot, from, to,
      exact = v.nonInvertible)

  /** Signed rows (`__sign` = +1 insert / -1 retract) → the keyed delta
    * rollup the merge consumes. Delta keys are renamed (`__dk_`) so the
    * merge can express a null-safe join condition. */
  private def signedDelta(df: DataFrame, keys: Seq[String],
      sumCols: Seq[String], mmCols: Seq[String] = Nil,
      ndvCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    if (ndvCols.nonEmpty)
      graft.functions.GraftFunctions.register(df.sparkSession)
    val needsDel = mmCols.nonEmpty || ndvCols.nonEmpty
    df.groupBy(keys.map(col): _*)
      .agg(sum(col("__sign")).as("dn"),
        (sumCols.flatMap(c => Seq(
          sum(col(c).cast("decimal(20,2)") * col("__sign")).as(s"dsum_$c"),
          sum(when(col(c).isNotNull, col("__sign")).otherwise(lit(0L)))
            .as(s"dcnt_$c"))) ++
          // insert-only extrema for the monotone merge, plus the flag
          // that routes a group to the exact recompute instead
          mmCols.flatMap(c => Seq(
            min(when(col("__sign") === 1L, col(c))).as(s"imin_$c"),
            max(when(col("__sign") === 1L, col(c))).as(s"imax_$c"))) ++
          // insert-only register unions (the CASE nulls out retracted
          // rows — HllSketchAgg skips nulls, so deletes never touch
          // the sketch; the dhasdel flag routes them to the recompute)
          ndvCols.map(c =>
            expr(s"graft_hll_sketch(CASE WHEN __sign = 1 THEN $c END)")
              .as(s"ihll_$c")) ++
          (if (!needsDel) Nil else Seq(
            max(when(col("__sign") === -1L, lit(1)).otherwise(lit(0)))
              .as("dhasdel")))): _*)
      .select(keys.map(k => col(k).as(s"__dk_$k")) ++
        Seq(col("dn")) ++
        sumCols.flatMap(c =>
          Seq(col(s"dsum_$c"), col(s"dcnt_$c"))) ++
        mmCols.flatMap(c =>
          Seq(col(s"imin_$c"), col(s"imax_$c"))) ++
        ndvCols.map(c => col(s"ihll_$c")) ++
        (if (!needsDel) Nil else Seq(col("dhasdel"))): _*)
  }

  /** The pure merge: old rollup ⊕ keyed signed-delta rollup → the new
    * rollup frame (no commit). Shared by the committing refreshes and
    * the read-time [[readFresh]] serving path. */
  private def mergedFrame(old: DataFrame, keys: Seq[String],
      sumCols: Seq[String], deltaAgg: DataFrame,
      mmCols: Seq[String] = Nil, avgCols: Seq[String],
      ndvCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    if (ndvCols.nonEmpty)
      graft.functions.GraftFunctions.register(old.sparkSession)
    val cond = keys.map(k => old(k) <=> deltaAgg(s"__dk_$k"))
      .reduce(_ && _)
    val zeroDec = lit(0).cast("decimal(20,2)")
    def mergedSum(c: String): Seq[Column] = {
      val cnt = coalesce(col(s"cnt_$c"), lit(0L)) +
        coalesce(col(s"dcnt_$c"), lit(0L))
      Seq(
        when(cnt === 0L, lit(null).cast("decimal(20,2)"))
          .otherwise((coalesce(col(s"sum_$c"), zeroDec) +
            coalesce(col(s"dsum_$c"), zeroDec)).cast("decimal(20,2)"))
          .as(s"sum_$c"),
        cnt.as(s"cnt_$c"))
    }
    // monotone extrema merge — valid ONLY for insert-touched groups
    // (the caller routes delete-touched groups to the recompute);
    // least/greatest skip NULLs, so an absent side passes through
    def mergedMm(c: String): Seq[Column] = Seq(
      least(col(s"min_$c"), col(s"imin_$c")).as(s"min_$c"),
      greatest(col(s"max_$c"), col(s"imax_$c")).as(s"max_$c"))
    // register union — same insert-only contract as the extrema (a
    // one-sided group passes its sketch through unchanged)
    def mergedHll(c: String): Seq[Column] = Seq(
      when(col(s"ihll_$c").isNull, col(s"hll_$c"))
        .when(col(s"hll_$c").isNull, col(s"ihll_$c"))
        .otherwise(expr(s"graft_hll_merge(hll_$c, ihll_$c)"))
        .as(s"hll_$c"))
    // "no old-side row" is probed via `n` (never NULL in a view row) —
    // probing the key would misread a legitimate NULL-key group
    withDerived(old.join(deltaAgg, cond, "full_outer")
      .select((keys.map(k =>
        when(col("n").isNull, col(s"__dk_$k"))
          .otherwise(old(k)).as(k)) ++
        Seq((coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n")) ++
        sumCols.flatMap(mergedSum) ++
        mmCols.flatMap(mergedMm) ++
        ndvCols.flatMap(mergedHll)): _*)
      .filter(col("n") > 0),
      avgCols, ndvCols)
  }

  /** One incremental-view delta, applied: the merged rollup frame an
    * [[IncrementalView]] refresh would commit (no commit here — shared
    * by the committing refreshes and [[readFresh]]). With
    * `minMaxCols`, groups touched by a delete are recomputed exactly
    * from the source AT VERSION `srcV` restricted to those group keys
    * (manifest-pruned through the first group key when possible);
    * everything else merges algebraically. */
  private def incrDeltaFrame(spark: SparkSession, v: IncrementalView,
      viewCur: Long, signedRows: DataFrame, srcV: Long)
      : (DataFrame, () => Unit) = {
    import org.apache.spark.sql.functions._
    val old = SnapshotTable.readVersion(spark, v.viewRoot, viewCur)
    val deltaAgg0 = signedDelta(signedRows, v.keys, v.allSums,
      v.minMaxCols, v.ndvCols)
    if (!v.nonInvertible)
      return (mergedFrame(old, v.keys, v.allSums, deltaAgg0,
        avgCols = v.avgCols), () => ())
    // the delta rollup feeds the delete-key probes, the insert-only
    // merge AND the key joins — persist the (group-count-sized) frame
    // so the underlying diff evaluates once. SQL caching holds a
    // strong CacheManager reference until unpersist, so the CALLER
    // must invoke the returned cleanup once the frame is consumed
    // (commit / eager materialization) — a leaked entry per refresh
    // would grow storage without bound on streaming maintainers.
    val deltaAgg = deltaAgg0.persist()
    val cleanup = () => { deltaAgg.unpersist(); () }
    val delKeys = deltaAgg.filter(col("dhasdel") === 1)
      .select(v.keys.map(k => col(s"__dk_$k")): _*)
    // no delete-touched group (the common append-only tick): the
    // monotone merge alone is exact — skip the NULL-key probe, the
    // anti join and the recompute leg entirely (one cheap emptiness
    // job on the cached delta replaces them all)
    if (delKeys.limit(1).count() == 0L)
      return (mergedFrame(old, v.keys, v.allSums,
        deltaAgg.drop("dhasdel"), v.minMaxCols, v.avgCols, v.ndvCols),
        cleanup)
    val insOnly = deltaAgg.filter(col("dhasdel") === 0).drop("dhasdel")
    // groups untouched by deletes: algebraic merge; old rows of
    // delete-touched groups are excluded — the recompute replaces them
    val oldKept = old.join(delKeys,
      v.keys.map(k => old(k) <=> delKeys(s"__dk_$k")).reduce(_ && _),
      "left_anti")
    val part1 = mergedFrame(oldKept, v.keys, v.allSums, insOnly,
      v.minMaxCols, v.avgCols, v.ndvCols)
    // delete-touched groups: exact recompute over only their rows.
    // Key-prune the source read through the manifest when every
    // touched first-key is non-NULL (readKeys cannot probe NULL); a
    // NULL group key falls back to the plain scan — the semi join
    // below is the exactness guarantee either way.
    val k0 = v.keys.head
    val hasNullKey = delKeys
      .filter(col(s"__dk_$k0").isNull).limit(1).count() > 0
    val srcBase =
      if (hasNullKey) SnapshotTable.readVersion(spark, v.sourceRoot, srcV)
      else SnapshotTable.readKeys(spark, v.sourceRoot, k0,
        delKeys.select(col(s"__dk_$k0").as(k0)), Some(srcV))
    val srcAff = srcBase.join(delKeys,
      v.keys.map(k => srcBase(k) <=> delKeys(s"__dk_$k")).reduce(_ && _),
      "left_semi")
    (part1.unionByName(rollup(srcAff, v)), cleanup)
  }

  /** Merge a keyed signed-delta rollup onto view version `viewCur` and
    * CAS-commit the result. Throws [[SnapshotTable.CommitConflict]]
    * when another maintainer landed in between — the caller decides
    * how to recover (full recompute). */
  private def mergeSignedDelta(spark: SparkSession, viewRoot: String,
      keys: Seq[String], sumCols: Seq[String],
      viewCur: Long, deltaAgg: DataFrame,
      avgCols: Seq[String]): Long = {
    val merged = mergedFrame(
      SnapshotTable.readVersion(spark, viewRoot, viewCur),
      keys, sumCols, deltaAgg, avgCols = avgCols)
    SnapshotTable.commitExpecting(spark, viewRoot, merged,
      expectedCurrent = viewCur, clusterKey = keys.headOption,
      files = SnapshotTable.adaptiveFiles(spark, viewRoot))
  }

  /** ALWAYS-FRESH serving without a refresh: the committed rollup ⊕
    * the not-yet-consumed delta, merged AT READ TIME — no view commit,
    * no write amplification. The lambda-architecture pattern in one
    * call: a dashboard hit pays O(view + changed rows), never
    * O(source), and sees every source commit immediately; the
    * background [[refreshIncremental]]/[[cdcFeed]] cadence then only
    * bounds how much delta each read re-merges, not staleness.
    * Falls back to computing the rollup straight from the source when
    * the view was never refreshed or its consumed version has been
    * expired (both still commit-free). */
  def readFresh(spark: SparkSession, v: IncrementalView): DataFrame = {
    val viewCur = SnapshotTable.currentVersion(spark, v.viewRoot)
    val lastV =
      if (viewCur == 0L) 0L
      else markerFor(spark, v.viewRoot, viewCur).getOrElse(0L)
    val curV = SnapshotTable.currentVersion(spark, v.sourceRoot)
    require(curV > 0L, s"source never committed at ${v.sourceRoot}")
    if (viewCur > 0L && lastV == curV) return read(spark, v)
    val canDelta = viewCur > 0L && lastV > 0L && lastV < curV &&
      SnapshotTable.versions(spark, v.sourceRoot).contains(lastV)
    if (!canDelta)
      return rollup(SnapshotTable.readVersion(spark, v.sourceRoot, curV), v)
    memoFresh(spark, v, Seq(v.viewRoot -> viewCur,
        v.sourceRoot -> lastV, v.sourceRoot -> curV)) {
      val (merged, cleanup) = incrDeltaFrame(spark, v, viewCur,
        signedRows(spark, v, lastV, curV), curV)
      // the caller scans the result at an unknown later time, so the
      // delta cache can't wait for them: materialize the (view-sized,
      // bounded) frame NOW via localCheckpoint — its RDD blocks are
      // reference-tracked and reclaimed by the context cleaner, unlike
      // CacheManager entries — then release the delta cache immediately.
      // A per-hit leak here would grow storage without bound on an
      // always-fresh serving path.
      try merged.localCheckpoint(true) finally cleanup()
    }
  }

  /** Read-time merges memoized per session, at most this many views. */
  private val FreshMemoMax = 16

  /** One memoized read-time merge: the (root, version, manifest stamp)
    * list it was computed at and its checkpointed rows. It holds no
    * session, so the memo's weak session keys can be collected. */
  private final case class FreshMerge(at: Seq[(String, Long, (Long, Long))],
      schema: org.apache.spark.sql.types.StructType, bytes: Long,
      rows: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow])

  private val freshMemo = new java.util.WeakHashMap[SparkSession,
    java.util.LinkedHashMap[AnyRef, FreshMerge]]()

  /** The read-time merge of `view` at `versions` (each a root and the
    * version of it the merge reads): `materialize` (a checkpointed
    * frame) runs once per session and distinct versions; a repeat read
    * runs no job. Versions are immutable, and each version's manifest
    * stamp guards a table deleted and recreated at the same root. Every
    * call returns a new frame over the checkpoint, with its own
    * attribute ids, so two reads of one view still join. A replaced or
    * evicted entry is only dropped, never unpersisted — a caller may
    * still scan its frame — and the ContextCleaner reclaims the
    * checkpoint once nothing references it. */
  private def memoFresh(spark: SparkSession, view: AnyRef,
      versions: Seq[(String, Long)])(materialize: => DataFrame): DataFrame = {
    val at = versions.map { case (root, ver) =>
      (root, ver, SnapshotTable.manifestStamp(spark, root, ver)) }
    val hit = freshMemo.synchronized {
      Option(freshMemo.get(spark)).flatMap(m => Option(m.get(view)))
        .filter(_.at == at)
    }
    val m = hit.getOrElse {
      val cp = SnapshotTable.describedJobs(spark, "graft_read_fresh")(
        materialize)
      val rdd = cp.queryExecution.analyzed match {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
        case p => throw new IllegalStateException(
          s"read-time merge is not a checkpoint: ${p.nodeName}")
      }
      val fresh = FreshMerge(at, cp.schema,
        cp.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(Long.MaxValue)).toLong, rdd)
      freshMemo.synchronized {
        freshMemo.computeIfAbsent(spark, _ =>
          new java.util.LinkedHashMap[AnyRef, FreshMerge](
            FreshMemoMax, 0.75f, true) {
            override def removeEldestEntry(e: java.util.Map.Entry[AnyRef,
              FreshMerge]): Boolean = size() > FreshMemoMax
          }).put(view, fresh)
      }
      fresh
    }
    spark.baseRelationToDataFrame(new SinkSession.RowsRelation(
      spark.sqlContext, m.schema, () => m.bytes, () => m.rows))
  }

  /** MV maintenance as a STREAMING JOB — the CDC feed for APPEND-ONLY
    * sources: the connector's micro-batch stream tails the source
    * table's commit log, and each micro-batch (one or more newly
    * committed versions) triggers one [[refreshIncremental]]. The
    * batch CONTENT is only the wake signal — the refresh derives its
    * own signed delta from the source's file delta. Per tick the work is
    * O(changed files): the stream reads the added files, the diff
    * reads the changed files, the CAS-refresh merges a delta-sized
    * rollup. Checkpointed: a restart resumes from the consumed source
    * version; a replayed wake-up is harmless because
    * refreshIncremental no-ops when the view is already at the
    * source's version (idempotent trigger, exact refresh).
    *
    * Scope is the SOURCE's accretive contract: a compaction / COW
    * merge / MOR delete in the watched range fails the stream loudly
    * (the same line Delta's streaming source draws). The view itself
    * is not limited to appends — call [[refreshIncremental]] directly
    * after such a commit (its diff sees removals) and resume the feed
    * on a fresh checkpoint; the spec walks exactly that recovery. */
  def cdcFeed(spark: SparkSession, v: IncrementalView,
      checkpoint: String, retain: Option[Int] = None)
  : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-snapshot")
      .option("path", v.sourceRoot).load()
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        refreshIncremental(spark, v)
        retain.foreach(k => expire(spark, v.viewRoot, k))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** RETRACTION-correct CDC feed — merge-on-read deletes and updates
    * INCLUDED: tails the source's CHANGELOG with `preImages=true`
    * (delete events carry the full deleted rows) and applies each
    * micro-batch's signed delta straight from the batch content
    * (insert rows +1, delete rows −1 — a MOR update is its
    * delete+insert pair, netting exactly). This is the consumer shape
    * Delta's Change Data Feed serves; [[cdcFeed]] keeps the cheaper
    * wake-signal form for append-only sources, this one pays the
    * preImage read to survive row-level commits.
    *
    * EXACTLY-ONCE across replays, independent of the checkpoint: every
    * batch first drops rows at-or-below the view's consumed-version
    * marker (`_commit_version` is the source's own version numbering,
    * the same one the markers record), then lands via the CAS
    * primitive pinned to the view version the delta was computed
    * against. A replayed batch filters to empty and no-ops; a
    * concurrent maintainer forces the conflict path (full recompute —
    * version-independent, safe on top of anything). First batch on a
    * never-refreshed view takes the full-recompute path too, which
    * also bootstraps rows committed before the stream's start.
    *
    * PRECONDITION the marker scheme depends on: micro-batches contain
    * WHOLE source versions. The marker is version-granular, so a
    * version split across two batches would have its tail dropped as
    * already-consumed. ENFORCED at both ends: the changelog stream
    * itself rounds any admission cap UP to a version boundary (a
    * `changes=true` reader can never emit a partial version, even in
    * a user-built feed — [[connector.GraftChangesMicroBatchStream]]),
    * and [[applyChangeBatch]] verifies version CONTIGUITY against the
    * marker at runtime, falling back to a full recompute when a
    * mis-built feed (startingVersion past the marker, a foreign
    * checkpoint) would otherwise silently skip versions.
    *
    * RETENTION: every refresh commits a full view version plus a
    * freshness marker, so a minute-cadence feed mints ~1,440 view
    * snapshots a day. `retain = Some(k)` runs [[expire]] after each
    * batch, bounding history to the latest k versions WITH their
    * markers (expire always keeps the current version's marker, so the
    * incremental chain is never broken — spec-pinned). Equivalent
    * recipe for an external scheduler: call
    * `MaterializedView.expire(spark, viewRoot, k)` on any cadence
    * (NOT the bare `CALL graft.system.expire_snapshots`, which leaves
    * orphaned marker files behind). */
  def cdcFeedRetract(spark: SparkSession, v: IncrementalView,
      checkpoint: String, retain: Option[Int] = None)
  : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-snapshot")
      .option("path", v.sourceRoot)
      .option("changes", "true")
      .option("preImages", "true")
      .load()
      .writeStream
      .foreachBatch(SinkSession.foreachBatch(spark) {
        (s, batch, _) =>
        applyChangeBatch(s, v, batch)
        retain.foreach(k => expire(s, v.viewRoot, k))
      })
      .option("checkpointLocation", checkpoint)
      .start()

  /** One changelog micro-batch → one exactly-once view commit (the
    * [[cdcFeedRetract]] body, callable directly for tests and manual
    * catch-up). Returns the view version left current. */
  private[graft] def applyChangeBatch(spark: SparkSession,
      v: IncrementalView, batch: DataFrame): Long = {
    import org.apache.spark.sql.functions._
    // the changelog's CDC metadata columns (Delta CDF's naming — the
    // connector-private constants, restated here as the public wire
    // contract the stream serves)
    val verCol = "_commit_version"
    val typCol = "_change_type"
    val viewCur = SnapshotTable.currentVersion(spark, v.viewRoot)
    val lastV =
      if (viewCur == 0L) 0L
      else markerFor(spark, v.viewRoot, viewCur).getOrElse(0L)
    if (lastV == 0L)
      // never refreshed (or the marker expired): bootstrap with a full
      // recompute — it consumes the source's CURRENT version, so this
      // batch and every replayed predecessor fall below the marker
      return refresh(spark, asView(v))
    val fresh = batch.filter(col(verCol) > lastV).persist()
    try {
      if (fresh.isEmpty) return viewCur // replay: fully consumed
      val bounds = fresh.agg(max(col(verCol)), min(col(verCol))).head()
      val hi = bounds.getLong(0)
      val lo = bounds.getLong(1)
      // CONTIGUITY guard (runtime twin of the doc precondition): the
      // marker scheme assumes this batch continues exactly where the
      // marker left off. A gap (lo > lastV+1) is benign only when the
      // skipped versions added no files — metadata-only commits
      // (rename/ALTER) bump the version without producing change
      // events. Anything else means the feed was mis-built
      // (startingVersion past the marker, a foreign checkpoint) and
      // its missing versions' changes would be silently lost —
      // recompute instead: version-independent, correct on top of
      // anything. One manifest read, zero data IO.
      if (lo > lastV + 1) {
        val entries =
          SnapshotTable.readManifestFull(spark, v.sourceRoot, hi)._1
        if (entries.exists(e => e.seq > lastV && e.seq < lo))
          return refresh(spark, asView(v))
      }
      val signed = fresh.withColumn("__sign",
        when(col(typCol) === "insert", lit(1L)).otherwise(lit(-1L)))
      // delete-touched min/max groups recompute against the state
      // this batch brings the view to (version hi is committed)
      val (merged, cleanup) = incrDeltaFrame(spark, v, viewCur, signed, hi)
      val viewV =
        try SnapshotTable.commitExpecting(spark, v.viewRoot, merged,
          expectedCurrent = viewCur, clusterKey = v.keys.headOption,
          files = SnapshotTable.adaptiveFiles(spark, v.viewRoot))
        catch {
          case _: SnapshotTable.CommitConflict =>
            return refresh(spark, asView(v))
        } finally cleanup()
      writeFreshness(spark, v.viewRoot, hi, viewV)
      viewV
    } finally { fresh.unpersist(); () }
  }

  // ---- join views: fact ⋈ dim → keyed rollup, maintained from BOTH
  // ---- tables' deltas ----

  /** A materialized rollup over an equi-join `fact ⋈ dim`, restricted
    * to keyed COUNT + SUM aggregates — maintained INCREMENTALLY from
    * both tables' version deltas via the bilinear identity
    *
    * {{{ Δ(F ⋈ D) = ΔF ⋈ D_new  +  F_old ⋈ ΔD }}}
    *
    * (signed multisets; expand `(F+ΔF)⋈(D+ΔD) − F⋈D` and fold the
    * cross term `ΔF⋈ΔD` into the first summand's `D_new = D + ΔD`).
    * This is the standard delta rule of incremental view maintenance
    * (Griffin & Libkin, "Incremental Maintenance of Views with
    * Duplicates", SIGMOD'95; the same algebra DBSP/Materialize run),
    * expressed over [[SnapshotTable.diff]]'s exact signed row deltas.
    *
    * Why this matters at scale: the view is a join a 100 TB engine
    * must never recompute per refresh. Both summands are O(delta +
    * matching files), never O(table):
    *  - `ΔF ⋈ D_new` reads the fact delta (O(changed files) via the
    *    manifest diff) and prunes the DIM read to ΔF's join keys
    *    through [[SnapshotTable.readKeys]] (stats + bloom, version-
    *    pinned) — the nightly fact append never rescans the dim;
    *  - `F_old ⋈ ΔD` reads the dim delta and prunes the FACT read to
    *    ΔD's keys the same way — a ten-row dim correction touches
    *    only the fact files whose stats admit those keys, which is
    *    the whole point of keeping the fact table clustered on its
    *    foreign key.
    *
    * `keys` (group-by) and `sumCols` name columns of the JOINED frame,
    * so a rollup keyed by a dim attribute (revenue by nation name)
    * maintains exactly: a dim update retracts the fact rows' old
    * contribution under the old attribute and re-adds it under the
    * new one, both signed legs arriving through `F_old ⋈ ΔD`.
    * Column names must be disjoint across the two tables (enforced),
    * so the joined frame is unambiguous. The join is INNER on
    * `factKey = dimKey`: NULL keys match nothing, exactly as SQL. */
  final case class JoinView(factRoot: String, dimRoot: String,
      viewRoot: String, factKey: String, dimKey: String,
      keys: Seq[String], sumCols: Seq[String],
      avgCols: Seq[String] = Nil)

  /** One dimension of a star: `factKey` (a fact column) equi-joins
    * `dimKey` (a column of the table at `root`). */
  final case class StarDim(root: String, factKey: String, dimKey: String)

  /** The N-dimension generalization: a rollup over
    * `fact ⋈ dim_1 ⋈ … ⋈ dim_k` (the star-schema query), maintained
    * incrementally from ALL k+1 tables' deltas by the telescoping
    * delta rule — with relations R_0..R_k and states old/new,
    *
    * {{{ Δ(R_0 ⋈ … ⋈ R_k) =
    *       Σ_i  R_0^old ⋈ … ⋈ R_{i-1}^old ⋈ ΔR_i ⋈ R_{i+1}^new ⋈ … ⋈ R_k^new }}}
    *
    * (each summand has exactly one signed delta factor; factors left
    * of it read their OLD version, right of it their NEW — the
    * standard multilinear expansion, every cross term absorbed
    * exactly once). [[JoinView]] is the k=1 special case and
    * delegates here. Every summand key-prunes its table reads: the
    * delta factor is O(changed files) via the manifest diff, the fact
    * read is pruned to the changed dim keys, and each dim read is
    * pruned to the accumulated frame's foreign keys — so a refresh is
    * O(delta + matching files) regardless of table count or size. */
  /** Star views carry COUNT + SUM aggregates (and DERIVED AVG, which
    * is just a served quotient of those): extrema/HLL under deletes
    * need the bounded delete-group recompute, which
    * [[IncrementalView.minMaxCols]] provides for single-table views
    * (restricting a JOINED frame to delete-touched groups keyed by
    * dim attributes has no pruned access path in general). */
  final case class StarView(factRoot: String, viewRoot: String,
      dims: Seq[StarDim], keys: Seq[String], sumCols: Seq[String],
      avgCols: Seq[String] = Nil) {
    require(dims.nonEmpty, "a star view needs at least one dimension")
    private[sources] def allSums: Seq[String] =
      (sumCols ++ avgCols).distinct
  }

  private def asStar(v: JoinView): StarView =
    StarView(v.factRoot, v.viewRoot,
      Seq(StarDim(v.dimRoot, v.factKey, v.dimKey)), v.keys, v.sumCols,
      v.avgCols)

  /** Star freshness markers record EVERY consumed source version
    * (`_source_versions.<viewV>` holding `factV,dimV_1,…,dimV_k`) —
    * same exclusive-create, append-only discipline as the
    * single-source markers, distinct namespace so the view kinds
    * cannot misread each other's files. A marker whose arity does not
    * match the view's table count reads as "no marker" (full-recompute
    * fallback), so re-shaping a view over an existing root fails safe. */
  private def joinMarkerPrefix = "_source_versions."

  private def starMarkerFor(spark: SparkSession, viewRoot: String,
      viewV: Long, arity: Int): Option[Seq[Long]] = {
    val f = SnapshotTable.fs(spark, viewRoot)
    val p = new Path(viewRoot, s"$joinMarkerPrefix$viewV")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      val parts = s.split(',').toSeq
      if (parts.length == arity &&
        parts.forall(x => x.nonEmpty && x.forall(_.isDigit)))
        Some(parts.map(_.toLong))
      else None
    }
  }

  private def writeStarFreshness(spark: SparkSession, viewRoot: String,
      vs: Seq[Long], viewV: Long): Unit = {
    val f = SnapshotTable.fs(spark, viewRoot)
    val out = f.create(new Path(viewRoot, s"$joinMarkerPrefix$viewV"),
      false) // one refresh per view version
    try out.write(vs.mkString(",").getBytes("UTF-8")) finally out.close()
  }

  /** The (factV, dimV) pair the view's CURRENT version consumed;
    * (0, 0) = never refreshed (or the marker expired). */
  def joinRefreshedAgainst(spark: SparkSession, viewRoot: String)
  : (Long, Long) = {
    starRefreshedAgainst(spark, viewRoot, 2) match {
      case Seq(a, b) => (a, b)
      case _ => (0L, 0L)
    }
  }

  /** Every consumed source version (fact first), or all zeros. */
  def starRefreshedAgainst(spark: SparkSession, viewRoot: String,
      arity: Int): Seq[Long] = {
    val cur = SnapshotTable.currentVersion(spark, viewRoot)
    if (cur == 0L) Seq.fill(arity)(0L)
    else starMarkerFor(spark, viewRoot, cur, arity)
      .getOrElse(Seq.fill(arity)(0L))
  }

  private def starRoots(v: StarView): Seq[String] =
    v.factRoot +: v.dims.map(_.root)

  def isStale(spark: SparkSession, v: StarView): Boolean = {
    val roots = starRoots(v)
    val last = starRefreshedAgainst(spark, v.viewRoot, roots.size)
    roots.zip(last).exists { case (r, l) =>
      SnapshotTable.currentVersion(spark, r) > l }
  }

  def isStale(spark: SparkSession, v: JoinView): Boolean =
    isStale(spark, asStar(v))

  def read(spark: SparkSession, v: StarView): DataFrame =
    SnapshotTable.read(spark, v.viewRoot)

  def read(spark: SparkSession, v: JoinView): DataFrame =
    SnapshotTable.read(spark, v.viewRoot)

  /** Chain the star's inner joins with the disjoint-name guard the
    * delta algebra depends on (a shadowed column would silently group
    * or sum the wrong side). */
  private def starJoinedFrame(fact: DataFrame,
      dims: Seq[(DataFrame, StarDim)]): DataFrame = {
    val lc = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val all = fact.columns.map(lc) ++
      dims.flatMap(_._1.columns.map(lc))
    val dup = all.groupBy(identity).collect {
      case (n, xs) if xs.size > 1 => n }
    require(dup.isEmpty,
      s"star/join views require disjoint column names across all " +
        s"tables; shared: ${dup.toSeq.sorted.mkString(", ")}")
    dims.foldLeft(fact) { case (acc, (d, sd)) =>
      acc.join(d, acc(sd.factKey) === d(sd.dimKey), "inner") }
  }

  private def starRollup(joined: DataFrame, keys: Seq[String],
      sumCols: Seq[String], avgCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    // DECIMAL(20,2) sums for the same one-schema reason as [[rollup]]
    withDerived(joined.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sumCols.flatMap(c => Seq(
          sum(col(c).cast("decimal(20,2)")).cast("decimal(20,2)")
            .as(s"sum_$c"),
          count(col(c)).as(s"cnt_$c"))): _*),
      avgCols, Nil)
  }

  /** Recompute the star rollup from the CURRENT snapshots of all
    * sources and commit it as a new view version. Version-independent
    * (safe to commit on top of anything), so it is also every
    * incremental path's recovery move. */
  def refreshStar(spark: SparkSession, v: StarView): Long = {
    val vs = starRoots(v).map(SnapshotTable.currentVersion(spark, _))
    val joined = starJoinedFrame(
      SnapshotTable.readVersion(spark, v.factRoot, vs.head),
      v.dims.zipWithIndex.map { case (d, i) =>
        (SnapshotTable.readVersion(spark, d.root, vs(i + 1)), d) })
    val viewV = SnapshotTable.commit(spark, v.viewRoot,
      starRollup(joined, v.keys, v.allSums, v.avgCols),
      clusterKey = v.keys.headOption,
      files = SnapshotTable.adaptiveFiles(spark, v.viewRoot))
    writeStarFreshness(spark, v.viewRoot, vs, viewV)
    viewV
  }

  def refreshJoin(spark: SparkSession, v: JoinView): Long =
    refreshStar(spark, asStar(v))

  /** Refresh by DELTA when possible — the telescoping rule above, each
    * summand key-pruning its table reads; merged onto the view through
    * the same signed-delta CAS commit the single-source path uses.
    * Falls back to [[refreshStar]] on first refresh, when a consumed
    * version has been expired, or on a CAS conflict (a concurrent
    * maintainer landed first — applying OUR delta on ITS rollup would
    * double-count the overlap). No-ops when fresh. */
  def refreshStarIncremental(spark: SparkSession, v: StarView): Long = {
    val viewCur = SnapshotTable.currentVersion(spark, v.viewRoot)
    val roots = starRoots(v)
    val last =
      if (viewCur == 0L) Seq.fill(roots.size)(0L)
      else starMarkerFor(spark, v.viewRoot, viewCur, roots.size)
        .getOrElse(Seq.fill(roots.size)(0L))
    val cur = roots.map(SnapshotTable.currentVersion(spark, _))
    if (last == cur && last.head > 0) return viewCur // fresh: no-op
    val canDelta = last.forall(_ > 0) &&
      last.zip(cur).forall { case (l, c) => l <= c } &&
      roots.indices.forall(i =>
        SnapshotTable.versions(spark, roots(i)).contains(last(i)))
    if (!canDelta) return refreshStar(spark, v)

    val (signedRows, cleanup) = starSignedRows(spark, v, last, cur)
      .getOrElse(return viewCur) // all sources metadata-fresh
    val viewV =
      try mergeSignedDelta(spark, v.viewRoot, v.keys, v.allSums, viewCur,
        signedDelta(signedRows, v.keys, v.allSums), v.avgCols)
      catch {
        case _: SnapshotTable.CommitConflict => return refreshStar(spark, v)
      } finally cleanup()
    writeStarFreshness(spark, v.viewRoot, cur, viewV)
    viewV
  }

  def refreshJoinIncremental(spark: SparkSession, v: JoinView): Long =
    refreshStarIncremental(spark, asStar(v))

  /** The telescoping signed delta as one frame of joined rows carrying
    * `__sign` — the refresh body, exposed package-private so specs can
    * assert the IO shape (`inputFiles`): a fact-only change never
    * re-opens the fact's pre-existing files, a dim-only change opens
    * only the fact files whose stats admit the touched keys. `last` /
    * `cur` are version vectors (fact first). None = no source added
    * data versions (metadata-only staleness). The second element
    * releases the per-term delta caches — SQL persist holds a strong
    * CacheManager reference until unpersist (NOT reclaimed by the
    * context cleaner), so the caller must invoke it once the frame is
    * consumed or every maintenance tick leaks a cached relation. */
  private[graft] def starSignedRows(spark: SparkSession, v: StarView,
      lastVs: Seq[Long], curVs: Seq[Long])
      : Option[(DataFrame, () => Unit)] = {
    // local names avoid shadowing functions.last from the import below
    val (last, cur) = (lastVs, curVs)
    import org.apache.spark.sql.functions.{col, lit, when}
    def signed(df: DataFrame): DataFrame = df
      .withColumn("__sign",
        when(col("change_type") === "inserted", lit(1L))
          .otherwise(lit(-1L)))
      .drop("change_type")
    val roots = starRoots(v)

    // join `dims(j)` onto the accumulated frame at version `ver`,
    // PRUNED to the frame's foreign keys (stats + bloom, version-
    // pinned) — the dim read is O(matching files), never O(dim).
    // EXCEPT when the dim version is broadcast-small: the probe's
    // key-collection job then costs more than it saves, so read the
    // dim whole and let the join broadcast it (same threshold logic
    // as Spark's own broadcast decision).
    val smallBytes = spark.conf.getOption(
      "spark.sql.autoBroadcastJoinThreshold")
      .flatMap(x => scala.util.Try(
        org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(x)).toOption)
      .filter(_ > 0).getOrElse(10L * 1024 * 1024)
    def dimIsSmall(root: String, ver: Long): Boolean = {
      val es = SnapshotTable.manifest(spark, root, ver)
      val bs = es.map(_.bytes)
      bs.forall(_.isDefined) && bs.flatten.sum <= smallBytes
    }
    def joinDim(acc: DataFrame, j: Int, ver: Long): DataFrame = {
      val d = v.dims(j)
      val dj =
        if (dimIsSmall(d.root, ver))
          SnapshotTable.readVersion(spark, d.root, ver)
        else SnapshotTable.readKeys(spark, d.root, d.dimKey,
          acc.select(col(d.factKey).as(d.dimKey)), Some(ver))
      acc.join(dj, acc(d.factKey) === dj(d.dimKey), "inner")
    }

    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val terms = roots.indices.flatMap { i =>
      if (cur(i) <= last(i)) None
      else {
        // the delta is evaluated once per readKeys PROBE plus once in
        // the term's own join — persist it (delta-sized), released by
        // the returned cleanup once the caller consumes the frame
        val dRi = signed(
          SnapshotTable.diff(spark, roots(i), last(i), cur(i))).persist()
        cached += dRi
        if (i == 0) {
          // ΔF ⋈ dim_1^new ⋈ … ⋈ dim_k^new
          Some(v.dims.indices.foldLeft(dRi)((acc, j) =>
            joinDim(acc, j, cur(j + 1))))
        } else {
          // F^old ⋈ … dim_{i-1}^old ⋈ ΔD_i ⋈ dim_{i+1}^new … — the
          // fact read is version-pinned to last(0) and PRUNED to the
          // dim delta's keys
          val di = v.dims(i - 1)
          val factOld = SnapshotTable.readKeys(spark, v.factRoot,
            di.factKey, dRi.select(col(di.dimKey).as(di.factKey)),
            Some(last.head))
          val start = factOld.join(dRi,
            factOld(di.factKey) === dRi(di.dimKey), "inner")
          Some(v.dims.indices.foldLeft(start) { (acc, j) =>
            if (j == i - 1) acc // ΔD_i itself, already joined
            else joinDim(acc, j,
              if (j + 1 < i) last(j + 1) else cur(j + 1))
          })
        }
      }
    }
    val cleanup = () => { cached.foreach(_.unpersist()); () }
    if (terms.isEmpty) { cleanup(); None }
    else Some((terms.reduce(_.unionByName(_)), cleanup))
  }

  private[graft] def joinSignedRows(spark: SparkSession, v: JoinView,
      lastF: Long, lastD: Long, curF: Long, curD: Long)
  : Option[(DataFrame, () => Unit)] =
    starSignedRows(spark, asStar(v), Seq(lastF, lastD), Seq(curF, curD))

  /** [[readFresh]] for star views: committed rollup ⊕ the telescoping
    * pending delta, merged at read time — an always-fresh star-schema
    * dashboard that never recomputes the join and never commits on the
    * read path. Cost is O(view + delta + matching files) via the same
    * key-pruned reads the refresh uses. */
  def readFresh(spark: SparkSession, v: StarView): DataFrame = {
    val viewCur = SnapshotTable.currentVersion(spark, v.viewRoot)
    val roots = starRoots(v)
    val last =
      if (viewCur == 0L) Seq.fill(roots.size)(0L)
      else starMarkerFor(spark, v.viewRoot, viewCur, roots.size)
        .getOrElse(Seq.fill(roots.size)(0L))
    val cur = roots.map(SnapshotTable.currentVersion(spark, _))
    require(cur.forall(_ > 0L),
      s"sources never committed at ${roots.mkString(" / ")}")
    if (viewCur > 0L && last == cur) return read(spark, v)
    val canDelta = viewCur > 0L && last.forall(_ > 0L) &&
      last.zip(cur).forall { case (l, c) => l <= c } &&
      roots.indices.forall(i =>
        SnapshotTable.versions(spark, roots(i)).contains(last(i)))
    if (!canDelta)
      return starRollup(starJoinedFrame(
        SnapshotTable.readVersion(spark, v.factRoot, cur.head),
        v.dims.zipWithIndex.map { case (d, i) =>
          (SnapshotTable.readVersion(spark, d.root, cur(i + 1)), d) }),
        v.keys, v.allSums, v.avgCols)
    // canDelta with last != cur leaves a pending version on some root,
    // so the delta below has a term
    memoFresh(spark, v, (v.viewRoot -> viewCur) +:
        (roots.zip(last) ++ roots.zip(cur))) {
      val (rows, cleanup) = starSignedRows(spark, v, last, cur).get
      // same contract as the IncrementalView readFresh: the caller
      // scans later, so materialize the bounded view-sized merge NOW
      // (localCheckpoint blocks are context-cleaner-reclaimed) and
      // release the delta caches immediately
      try mergedFrame(
        SnapshotTable.readVersion(spark, v.viewRoot, viewCur),
        v.keys, v.allSums, signedDelta(rows, v.keys, v.allSums),
        avgCols = v.avgCols)
        .localCheckpoint(true)
      finally cleanup()
    }
  }

  def readFresh(spark: SparkSession, v: JoinView): DataFrame =
    readFresh(spark, asStar(v))

  /** Star-MV maintenance as a STREAMING JOB: one changelog wake stream
    * per source table, each tick calling [[refreshStarIncremental]].
    * The batch content is discarded — the refresh derives its own
    * signed deltas from the manifest diff, version-pinned by the
    * vector marker — so the wake streams ride `changes=true` (which
    * survives MOR deletes/updates, unlike the plain accretive stream)
    * and replays or double-wakes are harmless: the refresh no-ops when
    * fresh and CAS-recovers when raced. Returns one handle per source
    * (fact first). */
  def starFeed(spark: SparkSession, v: StarView,
      checkpoints: Seq[String], retain: Option[Int] = None)
  : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val roots = starRoots(v)
    require(checkpoints.size == roots.size,
      s"need ${roots.size} checkpoints (fact first), " +
        s"got ${checkpoints.size}")
    roots.zip(checkpoints).map { case (root, cp) =>
      spark.readStream.format("graft-snapshot")
        .option("path", root)
        .option("changes", "true").option("preImages", "true")
        .load()
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          refreshStarIncremental(spark, v)
          // bound the minted view history (see cdcFeedRetract); the
          // expire is idempotent and maintainer-serialized per wake
          retain.foreach(k => expire(spark, v.viewRoot, k))
          ()
        }
        .option("checkpointLocation", cp)
        .start()
    }
  }

  def joinFeed(spark: SparkSession, v: JoinView,
      factCheckpoint: String, dimCheckpoint: String,
      retain: Option[Int] = None)
  : (org.apache.spark.sql.streaming.StreamingQuery,
     org.apache.spark.sql.streaming.StreamingQuery) =
    starFeed(spark, asStar(v),
      Seq(factCheckpoint, dimCheckpoint), retain) match {
      case Seq(a, b) => (a, b)
      case other => throw new IllegalStateException(
        s"expected two feed handles, got ${other.size}")
    }

  /** Expire old VIEW versions and prune the freshness markers that
    * referenced them (markers are append-only, one per view version —
    * without pruning they accumulate forever). Keeps every marker of a
    * surviving version, always including the current one. */
  def expire(spark: SparkSession, viewRoot: String, keep: Int)
  : Seq[Long] = {
    val dropped = SnapshotTable.expireSnapshots(spark, viewRoot, keep)
    val surviving = SnapshotTable.versions(spark, viewRoot).toSet
    val f = SnapshotTable.fs(spark, viewRoot)
    val rootPath = new Path(viewRoot)
    if (f.exists(rootPath)) f.listStatus(rootPath).toSeq.map(_.getPath)
      .foreach { p =>
        val n = p.getName
        // both marker namespaces (single-source and join pair);
        // joinMarkerPrefix does NOT match markerPrefix's startsWith
        // ("_source_versions." vs "_source_version.") so each file is
        // judged under exactly one prefix
        val suffix =
          if (n.startsWith(joinMarkerPrefix))
            Some(n.stripPrefix(joinMarkerPrefix))
          else if (n.startsWith(markerPrefix))
            Some(n.stripPrefix(markerPrefix))
          else None
        suffix.filter(s => s.nonEmpty && s.forall(_.isDigit))
          .foreach { s =>
            if (!surviving(s.toLong)) f.delete(p, false)
          }
      }
    dropped
  }
}
