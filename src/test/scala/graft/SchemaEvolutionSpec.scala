package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DROP COLUMN as a metadata-only narrowing commit, and the ghost
  * rule that makes name-based drops SAFE: pre-drop files still
  * physically carry the old values, so re-ADDing the same name
  * refuses until compaction has rewritten them — otherwise a reader
  * projecting by name would resurface deleted data (the name-based
  * analogue of Iceberg's never-reuse-a-field-id rule). */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-se").toString + "/t"

  private def catalogFor(name: String): String = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft-se-wh").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    wh
  }

  test("dropColumns narrows reads everywhere, zero data moves; time " +
      "travel at a pre-drop version still serves the column") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x"))    // v1
    val dataFiles = SnapshotTable.readManifest(spark, root, 1L)
      .map(_.path).sorted
    val v2 = SnapshotTable.dropColumns(spark, root, Seq("x"))
    assert(v2 == 2L)
    // same physical files — metadata-only
    assert(SnapshotTable.readManifest(spark, root, v2)
      .map(_.path).sorted == dataFiles)
    val now = SnapshotTable.read(spark, root)
    assert(now.columns.toSeq == Seq("k", "v"))
    assert(now.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // the dropped column is gone from the scan, not just hidden
    assert(intercept[Exception](now.select("x").collect())
      .getMessage.toLowerCase.contains("x"))
    // time travel: version 1's schema still has it, values intact
    val old = SnapshotTable.readVersion(spark, root, 1L)
    assert(old.columns.toSeq == Seq("k", "v", "x"))
    assert(old.select("x").as[Int].collect().sorted.toSeq ==
      Seq(10, 20))
  }

  test("re-adding a dropped name refuses while pre-drop files are " +
      "live (ghost values), and succeeds after compaction with fresh " +
      "NULL / DEFAULT semantics — old values never resurface") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", 111), (2L, "b", 222)).toDF("k", "v", "x"))  // v1
    SnapshotTable.dropColumns(spark, root, Seq("x"))            // v2
    val e = intercept[IllegalArgumentException](
      SnapshotTable.addColumns(spark, root,
        StructType(Seq(StructField("x", IntegerType)))))
    assert(e.getMessage.contains("compact"),
      s"re-add must point at compaction, got: ${e.getMessage}")
    SnapshotTable.compact(spark, root)                          // v3
    SnapshotTable.addColumns(spark, root,
      StructType(Seq(StructField("x", IntegerType))))           // v4
    // the ghost 111/222 must NOT resurface: compacted files have no
    // physical x, so the re-added column reads NULL everywhere
    val back = SnapshotTable.read(spark, root)
    assert(back.select("x").as[Option[Int]].collect().toSeq ==
      Seq(None, None))
    // and the marker is consumed: a second add of another dropped
    // name is a fresh decision
    assert(!SnapshotTable.tableProperties(spark, root).keys
      .exists(_.startsWith("graft.dropped.")))
  }

  test("rename ONTO a formerly-dropped name: refused while pre-drop " +
      "files live (ghost bytes), legal after compaction — and then " +
      "the dropped-marker is cleared so the property surface never " +
      "claims a live column is dropped") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", 111), (2L, "b", 222)).toDF("k", "v", "x"))  // v1
    SnapshotTable.dropColumns(spark, root, Seq("x"))            // v2
    // while pre-drop files physically carry x, renaming v onto the
    // name would serve the GHOST bytes to name-based readers
    assert(intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, root, "v", "x"))
      .getMessage.contains("compact"))
    // ...and the marker is armed
    assert(SnapshotTable.tableProperties(spark, root)
      .contains("graft.dropped.x"))
    SnapshotTable.compact(spark, root)                          // v3
    SnapshotTable.renameColumn(spark, root, "v", "x")           // v4
    // the revived name serves v's values, and the marker is gone —
    // exactly as a re-ADD would have cleared it
    assert(SnapshotTable.read(spark, root).select("x")
      .as[String].collect().sorted.toSeq == Seq("a", "b"))
    assert(!SnapshotTable.tableProperties(spark, root)
      .contains("graft.dropped.x"))
    // the re-ADD guard on the renamed-AWAY name still fires: the
    // compacted files (pre-rename) physically store x's values under
    // 'v', so adding a fresh 'v' would alias two logical columns to
    // one physical column
    assert(intercept[IllegalArgumentException](
      SnapshotTable.addColumns(spark, root,
        StructType(Seq(StructField("v", StringType)))))
      .getMessage.contains("compact"))
  }

  test("drop refusals: merge-on-read tombstone key, hash-bucket " +
      "layout key, CHECK-referenced column, the last column, and an " +
      "unknown column all fail loudly") {
    val mor = tmpRoot()
    SnapshotTable.commit(spark, mor,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    SnapshotTable.mergeOnRead(spark, mor,
      Seq((1L, "a2")).toDF("k", "v"), "k")
    assert(intercept[IllegalArgumentException](
      SnapshotTable.dropColumns(spark, mor, Seq("k")))
      .getMessage.contains("tombstone"))

    val bucketed = tmpRoot()
    SnapshotTable.commitBucketed(spark, bucketed,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k", 2)
    assert(intercept[IllegalArgumentException](
      SnapshotTable.dropColumns(spark, bucketed, Seq("k")))
      .getMessage.contains("bucket"))

    val checked = tmpRoot()
    SnapshotTable.commit(spark, checked,
      Seq((1L, "a")).toDF("k", "v"))
    SnapshotTable.setProperties(spark, checked,
      SnapshotTable.tableProperties(spark, checked) +
        ("graft.check.pos_k" -> "k > 0"))
    assert(intercept[IllegalArgumentException](
      SnapshotTable.dropColumns(spark, checked, Seq("k")))
      .getMessage.contains("CHECK"))
    // parsed references, not substring: `k > 0` does not pin `v`...
    SnapshotTable.dropColumns(spark, checked, Seq("v"))
    // ...and dropping the LAST remaining protected-free column refuses
    assert(intercept[IllegalArgumentException](
      SnapshotTable.dropColumns(spark, tmpRootWith(
        Seq((1L)).toDF("only")), Seq("only")))
      .getMessage.contains("every column"))

    assert(intercept[IllegalArgumentException](
      SnapshotTable.dropColumns(spark, checked, Seq("nope")))
      .getMessage.contains("no column"))
  }

  private def tmpRootWith(df: org.apache.spark.sql.DataFrame): String = {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root, df)
    root
  }

  private def readFmt(root: String) =
    spark.read.format("graft-snapshot").option("path", root)

  test("renameColumn is metadata-only: old files serve their values " +
      "under the new name through BOTH read paths, appends write the " +
      "new name, chained renames resolve per file, time travel keeps " +
      "the old name") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x"))    // v1
    val v2 = SnapshotTable.renameColumn(spark, root, "x", "y")
    assert(v2 == 2L)
    assert(SnapshotTable.readManifest(spark, root, v2).map(_.path)
      .sorted == SnapshotTable.readManifest(spark, root, 1L)
      .map(_.path).sorted)
    SnapshotTable.append(spark, root,
      Seq((3L, "c", 30)).toDF("k", "v", "y"))                   // v3
    // native read path
    val native = SnapshotTable.read(spark, root)
    assert(native.columns.toSeq == Seq("k", "v", "y"))
    assert(native.select("k", "y").as[(Long, Int)].collect()
      .sorted.toSeq == Seq((1L, 10), (2L, 20), (3L, 30)))
    // connector read path (vectorized reader)
    assert(readFmt(root).load().select("k", "y")
      .as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 10), (2L, 20), (3L, 30)))
    // filters on the renamed column hit BOTH populations
    assert(readFmt(root).load().filter(col("y") < 25)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // chained rename: per-file epoch resolution
    SnapshotTable.renameColumn(spark, root, "y", "z")           // v4
    SnapshotTable.append(spark, root,
      Seq((4L, "d", 40)).toDF("k", "v", "z"))                   // v5
    assert(SnapshotTable.read(spark, root).select("k", "z")
      .as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 10), (2L, 20), (3L, 30), (4L, 40)))
    // time travel: the pre-rename version keeps its own schema
    val old = SnapshotTable.readVersion(spark, root, 1L)
    assert(old.columns.toSeq == Seq("k", "v", "x"))
    assert(old.select("x").as[Int].collect().sorted.toSeq ==
      Seq(10, 20))
  }

  test("rename keeps stats pruning sharp on BOTH file populations: " +
      "per-file epoch names translate the predicate, and the " +
      "vectorized path serves renamed old files") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i.toLong, i * 2.0)).toDF("x", "val"),
      clusterKey = Some("x"))                                   // v1
    val total = SnapshotTable.manifest(spark, root, 1L).size
    assert(total > 1)
    SnapshotTable.renameColumn(spark, root, "x", "key")         // v2
    SnapshotTable.append(spark, root,
      (20001 to 40000).map(i => (i.toLong, i * 2.0))
        .toDF("key", "val"), clusterKey = Some("key"))          // v3
    val q = readFmt(root).load()
      .filter(col("key") >= 1000 && col("key") <= 2000)
    val plan = q.queryExecution.executedPlan.toString
    val desc = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(desc.group(1).toInt < desc.group(2).toInt,
      s"rename broke stats pruning: ${desc.matched}\n$plan")
    assert(q.count() == 1001, "pruning under rename lost rows")
    // pre-rename rows decode correctly (vectorized, tombstone-free)
    assert(q.agg(sum("val")).collect()(0).getDouble(0) ==
      (1000 to 2000).map(_ * 2.0).sum)
    // and a predicate hitting only NEW files still prunes + answers
    val q2 = readFmt(root).load()
      .filter(col("key") >= 30000 && col("key") <= 30010)
    assert(q2.count() == 11)
  }

  test("rename refusals and name reservation: taken/ghost targets, " +
      "dependency columns, and the old name stays reserved until " +
      "compaction rewrites the files") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x"))
    // target taken
    assert(intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, root, "x", "V"))
      .getMessage.contains("already exists"))
    // rename, then: the OLD name is reserved against ADD while
    // pre-rename files live...
    SnapshotTable.renameColumn(spark, root, "x", "y")
    assert(intercept[IllegalArgumentException](
      SnapshotTable.addColumns(spark, root, StructType(Seq(
        StructField("x", IntegerType)))))
      .getMessage.contains("compact"))
    // ...and renaming ANOTHER column onto it refuses the same way
    assert(intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, root, "v", "x"))
      .getMessage.contains("compact"))
    // compaction frees the name: add x fresh, NULL everywhere
    SnapshotTable.compact(spark, root)
    SnapshotTable.addColumns(spark, root, StructType(Seq(
      StructField("x", IntegerType))))
    assert(SnapshotTable.read(spark, root).select("x")
      .as[Option[Int]].collect().toSeq == Seq(None, None))
    // dependency refusals
    val mor = tmpRoot()
    SnapshotTable.commit(spark, mor,
      Seq((1L, "a")).toDF("k", "v"))
    SnapshotTable.mergeOnRead(spark, mor,
      Seq((1L, "a2")).toDF("k", "v"), "k")
    assert(intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, mor, "k", "kk"))
      .getMessage.contains("tombstone"))
    val bucketed = tmpRoot()
    SnapshotTable.commitBucketed(spark, bucketed,
      Seq((1L, "a")).toDF("k", "v"), "k", 2)
    assert(intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, bucketed, "k", "kk"))
      .getMessage.contains("bucket"))
  }

  test("a column's CURRENT DEFAULT and INITIAL default both follow a " +
      "rename: pre-add files still fill the literal under the new " +
      "name, inserts omitting the new name still default") {
    catalogFor("graft_sern")
    spark.sql("CREATE TABLE graft_sern.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_sern.db.t VALUES (1, 'a')")    // v1
    spark.sql("ALTER TABLE graft_sern.db.t " +
      "ADD COLUMNS (prio INT DEFAULT 7)")                       // v2
    spark.sql("INSERT INTO graft_sern.db.t VALUES (2, 'b', 5)") // v3
    spark.sql("ALTER TABLE graft_sern.db.t " +
      "RENAME COLUMN prio TO rank")                             // v4
    val t = spark.table("graft_sern.db.t")
    assert(t.columns.toSeq == Seq("k", "v", "rank"))
    // pre-add file fills 7, post-add file serves its stored 5
    assert(t.select("k", "rank").as[(Long, Int)].collect()
      .sorted.toSeq == Seq((1L, 7), (2L, 5)))
    // the CURRENT default moved with the name
    spark.sql("INSERT INTO graft_sern.db.t (k, v) VALUES (3, 'c')")
    assert(spark.table("graft_sern.db.t").filter(col("k") === 3)
      .select("rank").as[Int].head() == 7)
  }

  test("widenColumn int->long is metadata-only and EXACT: both file " +
      "populations read through every path, stats pruning stays " +
      "sharp, SQL ALTER COLUMN TYPE works") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 20000).map(i => (i, i * 2.0)).toDF("k", "val"),
      clusterKey = Some("k"))                                   // v1 (int k)
    SnapshotTable.widenColumn(spark, root, "k", LongType)       // v2
    SnapshotTable.append(spark, root,
      (20001 to 30000).map(i => (i.toLong, i * 2.0))
        .toDF("k", "val"), clusterKey = Some("k"))              // v3 (long k)
    val t = readFmt(root).load()
    assert(t.schema("k").dataType == LongType)
    // old int files decode as long through the vectorized path
    assert(t.agg(sum("k")).collect()(0).getLong(0) ==
      (1 to 30000).map(_.toLong).sum)
    // native path too
    assert(SnapshotTable.read(spark, root).agg(sum("k"))
      .collect()(0).getLong(0) == (1 to 30000).map(_.toLong).sum)
    // int-recorded min/max stats still prune under the long predicate
    val q = t.filter(col("k") >= 1000L && col("k") <= 2000L)
    val desc = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString).get
    assert(desc.group(1).toInt < desc.group(2).toInt,
      s"widening broke stats pruning: ${desc.matched}")
    assert(q.count() == 1001)
    // SQL surface
    catalogFor("graft_sew")
    spark.sql("CREATE TABLE graft_sew.db.t (k INT, v STRING)")
    spark.sql("INSERT INTO graft_sew.db.t VALUES (7, 'a')")
    spark.sql("ALTER TABLE graft_sew.db.t ALTER COLUMN k TYPE BIGINT")
    assert(spark.table("graft_sew.db.t").schema("k").dataType ==
      LongType)
    assert(spark.table("graft_sew.db.t").select("k").as[Long]
      .head() == 7L)
  }

  test("widenColumn decimal(P,S)->decimal(P',S): metadata-only, both " +
      "file populations read exactly through BOTH paths (narrow " +
      "physical decimals upcast at decode), ranges keep pruning, and " +
      "scale changes / narrowing refuse") {
    val root = tmpRoot()
    val narrow = (1 to 10000).map(i => (i.toLong, s"$i.25"))
      .toDF("k", "s")
      .select(col("k"), col("s").cast("decimal(10,2)").as("price"))
    SnapshotTable.commit(spark, root, narrow,
      clusterKey = Some("price"))                               // v1
    SnapshotTable.widenColumn(spark, root, "price",
      DecimalType(24, 2))                                       // v2
    // post-widening files store wide decimals the old precision
    // could not hold
    val wide = Seq((10001L, "123456789012345678.12"),
      (10002L, "9876543210987654321.99")).toDF("k", "s")
      .select(col("k"), col("s").cast("decimal(24,2)").as("price"))
    SnapshotTable.append(spark, root, wide, clusterKey = Some("price"))
    val t = readFmt(root).load()
    assert(t.schema("price").dataType == DecimalType(24, 2))
    // exact through the connector (vectorized) and native paths
    val expected = (1 to 10000).map(i => BigDecimal(s"$i.25")).sum +
      BigDecimal("123456789012345678.12") +
      BigDecimal("9876543210987654321.99")
    assert(BigDecimal(t.agg(sum("price")).collect()(0)
      .getDecimal(0)) == expected)
    assert(BigDecimal(SnapshotTable.read(spark, root).agg(sum("price"))
      .collect()(0).getDecimal(0)) == expected)
    // decimal-rendered ranges survive the widening (same unscaled
    // values, same strings) and still prune under the wide predicate
    val q = t.filter(col("price") >= BigDecimal("100.00") &&
      col("price") <= BigDecimal("200.00"))
    val desc = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString).get
    assert(desc.group(1).toInt < desc.group(2).toInt,
      s"decimal widening broke stats pruning: ${desc.matched}")
    assert(q.count() == 100) // prices i.25 for i in 100..199
    // MOR kill path exercises the vectorized reader's decimal decode
    // on both physical encodings (INT64-backed narrow, binary wide)
    SnapshotTable.mergeOnRead(spark, root,
      Seq((50L, "0.00"), (10001L, "0.00")).toDF("k", "s")
        .select(col("k"), col("s").cast("decimal(24,2)").as("price")),
      "k")                                                      // v3
    val after = readFmt(root).load()
    assert(after.count() == 10002)
    assert(after.filter(col("k").isin(50L, 10001L))
      .select("price").as[java.math.BigDecimal].collect().toSeq
      .map(BigDecimal(_)).forall(_ == BigDecimal("0.00")))
    // refusals: scale change (never lossless under the Iceberg
    // rule), narrowing, and cross-kind nonsense
    assert(intercept[IllegalArgumentException](
      SnapshotTable.widenColumn(spark, root, "price",
        DecimalType(30, 4))).getMessage.contains("lossless"))
    assert(intercept[IllegalArgumentException](
      SnapshotTable.widenColumn(spark, root, "price",
        DecimalType(10, 2))).getMessage.contains("lossless"))
    assert(intercept[IllegalArgumentException](
      SnapshotTable.widenColumn(spark, root, "price", DoubleType))
      .getMessage.contains("lossless"))
    // SQL surface through the catalog
    catalogFor("graft_sewd")
    spark.sql(
      "CREATE TABLE graft_sewd.db.t (k BIGINT, p DECIMAL(10,2))")
    spark.sql("INSERT INTO graft_sewd.db.t VALUES (1, 12.50)")
    spark.sql(
      "ALTER TABLE graft_sewd.db.t ALTER COLUMN p TYPE DECIMAL(20,2)")
    assert(spark.table("graft_sewd.db.t").schema("p").dataType ==
      DecimalType(20, 2))
    assert(BigDecimal(spark.table("graft_sewd.db.t").select("p")
      .as[java.math.BigDecimal].head()) == BigDecimal("12.50"))
  }

  test("widenColumn float->double strips stats that would lie (a " +
      "float-rendered bound does not bracket the widened value) and " +
      "never wrong-prunes; the vectorized reader upcasts kill-filtered " +
      "files") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 1000).map(i => (i.toLong, 0.1f * i)).toDF("k", "s"),
      clusterKey = Some("s"))                                   // v1 (float s)
    SnapshotTable.widenColumn(spark, root, "s", DoubleType)     // v2
    // ranges for s are gone from the manifest: no file carries stats
    // that could wrong-prune under double comparison
    val entries = SnapshotTable.readManifest(spark, root, 2L)
    assert(entries.filter(_.kind == "d").forall(e =>
      e.statsFor("s").isEmpty), "float-rendered range survived widening")
    val t = readFmt(root).load()
    assert(t.schema("s").dataType == DoubleType)
    // the widened value is the float's exact double image — the
    // boundary predicate that a stale "0.1"-style bound would have
    // wrongly pruned returns the row
    val v = (0.1f * 9).toDouble
    assert(t.filter(col("s") === v).select("k").as[Long]
      .collect().toSeq == Seq(9L))
    assert(t.agg(sum("s")).collect()(0).getDouble(0) ==
      (1 to 1000).map(i => (0.1f * i).toDouble).sum)
    // MOR kill path exercises the vectorized reader's physical-type
    // upcast
    SnapshotTable.mergeOnRead(spark, root,
      Seq((9L, 99.0)).toDF("k", "s"), "k")                      // v3
    val after = readFmt(root).load()
    assert(after.filter(col("k") === 9L).select("s").as[Double]
      .head() == 99.0)
    assert(after.count() == 1000)
    // refusals: narrowing and nonsense conversions
    assert(intercept[IllegalArgumentException](
      SnapshotTable.widenColumn(spark, root, "k", IntegerType))
      .getMessage.contains("lossless"))
    assert(intercept[IllegalArgumentException](
      SnapshotTable.widenColumn(spark, root, "s", StringType))
      .getMessage.contains("lossless"))
  }

  test("column statistics survive a rename EXACTLY: sketches re-key " +
      "with the commit (repeat analyze reads 0 files), a fresh " +
      "analyze reads pre-rename files under their epoch names (never " +
      "all-NULL stats onto real values), and ranges report across " +
      "both populations") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("x", "v"),
      clusterKey = Some("x"))                                   // v1
    val (_, _, n1) = SnapshotTable.analyze(spark, root)         // v2
    assert(n1 > 0)
    SnapshotTable.renameColumn(spark, root, "x", "key")         // v3
    // sketches re-keyed at the rename: nothing left to analyze
    val (_, _, n2) = SnapshotTable.analyze(spark, root)
    assert(n2 == 0L,
      s"re-keyed sketches must keep analyze incremental, read $n2")
    val cur = SnapshotTable.currentVersion(spark, root)
    val (entries, mSchema) =
      SnapshotTable.readManifestFull(spark, root, cur)
    val stats = SnapshotTable.statsSummary(entries, mSchema.get)
      .map(s => s._1 -> s).toMap
    val (_, ndv, nulls, mn, mx, _) = stats("key")
    assert(nulls.contains(0L),
      s"rename corrupted null counts: $nulls")
    assert(ndv.exists(d => d > 900 && d < 1100),
      s"rename corrupted NDV: $ndv")
    assert(mn.isDefined && mx.isDefined,
      "rename hid the translated per-file ranges")

    // fresh analyze AFTER a rename reads old files under epoch names
    val root2 = tmpRoot()
    SnapshotTable.commit(spark, root2,
      (1 to 500).map(i => (i.toLong, s"v$i")).toDF("x", "v"))   // v1
    SnapshotTable.renameColumn(spark, root2, "x", "key")        // v2
    SnapshotTable.analyze(spark, root2)                         // v3
    val (e2, ms2) = SnapshotTable.readManifestFull(spark, root2,
      SnapshotTable.currentVersion(spark, root2))
    val s2 = SnapshotTable.statsSummary(e2, ms2.get)
      .map(s => s._1 -> s).toMap
    val (_, ndv2, nulls2, _, _, _) = s2("key")
    assert(nulls2.contains(0L),
      s"analyze read a renamed column as NULL: $nulls2")
    assert(ndv2.exists(d => d > 450 && d < 550),
      s"analyze sketched a renamed column wrong: $ndv2")
  }

  test("HISTOGRAM state survives a rename with ZERO file reads: the " +
      "graft.histcol.* properties move to the new name and " +
      "refreshHistograms stays metadata-only — proven with the data " +
      "directory moved away") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 2000).map(i => (i.toLong, i % 100)).toDF("x", "v"),
      clusterKey = Some("x"))                                   // v1
    assert(SnapshotTable.analyzeHistograms(spark, root).nonEmpty)
    SnapshotTable.renameColumn(spark, root, "x", "key")         // v3
    val props = SnapshotTable.tableProperties(spark, root)
    assert(props.contains("graft.histcol.key") &&
      props.contains("graft.histsk.key") &&
      props.contains("graft.histn.key"),
      s"histogram state did not follow the rename: " +
        props.keys.filter(_.startsWith("graft.hist")).toSeq.sorted)
    assert(!props.contains("graft.histcol.x"),
      "orphaned histogram state under the vacated name")
    // the rename commit changed no file paths: refresh is a restamp,
    // never a read — true even with the data physically gone
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(root, "_data")
    val hidden = new org.apache.hadoop.fs.Path(root + "_hidden")
    assert(fs.rename(dataDir, hidden))
    try {
      spark.catalog.refreshByPath(root)
      assert(SnapshotTable.refreshHistograms(spark, root),
        "histogram refresh after a rename went back to the files")
      val after = SnapshotTable.tableProperties(spark, root)
      assert(after.get("graft.hist.version").map(_.toLong)
        .contains(SnapshotTable.currentVersion(spark, root)))
    } finally { fs.rename(hidden, dataDir); () }
  }

  test("merge-on-read AFTER a rename kills rows in pre-rename files: " +
      "the hidden kill-key read translates through the alias map") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1))                                           // v1
    SnapshotTable.renameColumn(spark, root, "k", "id")          // v2
    // tombstones + replacements keyed on the NEW name must kill rows
    // stored under the OLD physical name in the v1 file
    SnapshotTable.mergeOnRead(spark, root,
      Seq((5L, "upd5"), (7L, "upd7")).toDF("id", "v"), "id")    // v3
    val t = readFmt(root).load()
    assert(t.count() == 100, "MOR over a renamed key lost/duped rows")
    assert(t.filter(col("id") === 5L).select("v").as[String]
      .head() == "upd5")
    assert(t.filter(col("id") === 6L).select("v").as[String]
      .head() == "v6")
    // a projection WITHOUT the key still applies the kill filter
    assert(t.select("v").as[String].collect()
      .count(_ == "upd7") == 1)
    assert(!t.select("v").as[String].collect().contains("v7"))
    // native path agrees
    assert(SnapshotTable.read(spark, root).count() == 100)
    assert(SnapshotTable.read(spark, root)
      .filter(col("id") === 7L).select("v").as[String]
      .head() == "upd7")
  }

  test("ALTER COLUMN COMMENT stamps metadata-only; nullability " +
      "changes refuse with the CHECK-constraint pointer") {
    catalogFor("graft_sec")
    spark.sql("CREATE TABLE graft_sec.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_sec.db.t VALUES (1, 'a')")
    spark.sql("ALTER TABLE graft_sec.db.t " +
      "ALTER COLUMN v COMMENT 'the payload'")
    val desc = spark.sql("DESCRIBE TABLE graft_sec.db.t")
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(desc.get("v").contains("the payload"),
      s"comment missing from DESCRIBE: $desc")
    // data unaffected, same files
    assert(spark.table("graft_sec.db.t").count() == 1)
    // Spark's analyzer already refuses tightening nullability on a
    // nullable V2 column; the catalog keeps its own guard for API
    // callers. Either way: loud, never silent.
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE graft_sec.db.t ALTER COLUMN v SET NOT NULL"))
    assert(e.getMessage.toLowerCase.contains("nullable") ||
      e.getMessage.contains("CHECK"),
      s"nullability change must refuse loudly, got: ${e.getMessage}")
  }

  test("TRUNCATE TABLE: empty replace commit, history intact, time " +
      "travel still serves pre-truncate versions, streams refuse the " +
      "non-accretive range") {
    catalogFor("graft_set")
    spark.sql("CREATE TABLE graft_set.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_set.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("TRUNCATE TABLE graft_set.db.t")
    assert(spark.table("graft_set.db.t").count() == 0)
    // pre-truncate version still readable
    val wh = spark.conf.get("spark.sql.catalog.graft_set.warehouse")
    val vPre = SnapshotTable.versions(spark, s"$wh/db/t")
      .sorted.dropRight(1).last
    assert(SnapshotTable.readVersion(spark, s"$wh/db/t", vPre)
      .count() == 2)
    // refills work after truncate
    spark.sql("INSERT INTO graft_set.db.t VALUES (3, 'c')")
    assert(spark.table("graft_set.db.t").select("k")
      .as[Long].collect().toSeq == Seq(3L))
  }

  test("SET/UNSET TBLPROPERTIES manage behavior properties: a live " +
      "table switches to merge-on-read row-level commits via SQL, " +
      "managed namespaces refuse toward their own DDL") {
    catalogFor("graft_sep")
    spark.sql("CREATE TABLE graft_sep.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_sep.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graft_sep.db.t SET TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.merge.key'='k')")
    val wh = spark.conf.get("spark.sql.catalog.graft_sep.warehouse")
    val root = s"$wh/db/t"
    spark.sql("DELETE FROM graft_sep.db.t WHERE k = 1")
    // the delete landed as a MOR tombstone, not a rewrite
    assert(SnapshotTable.readManifest(spark, root,
      SnapshotTable.currentVersion(spark, root))
      .exists(_.kind == "t"),
      "SET TBLPROPERTIES did not flip the row-level mode to MOR")
    assert(spark.table("graft_sep.db.t").select("k").as[Long]
      .collect().toSeq == Seq(2L))
    // UNSET flips it back: the next delete is copy-on-write
    spark.sql("ALTER TABLE graft_sep.db.t UNSET TBLPROPERTIES (" +
      "'write.delete.mode', 'write.merge.key')")
    assert(!SnapshotTable.tableProperties(spark, root)
      .contains("write.delete.mode"))
    // COMMENT ON TABLE rides the same path
    spark.sql("COMMENT ON TABLE graft_sep.db.t IS 'events table'")
    assert(SnapshotTable.tableProperties(spark, root)
      .get("comment").contains("events table"))
    // SHOW CREATE TABLE round-trips the schema and the persisted props
    val ddl = spark.sql("SHOW CREATE TABLE graft_sep.db.t")
      .head().getString(0)
    assert(ddl.contains("k BIGINT") && ddl.contains("v STRING"),
      s"SHOW CREATE TABLE lost the schema:\n$ddl")
    // managed namespaces refuse with the pointer
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft_sep.db.t SET TBLPROPERTIES (" +
        "'graft.check.x'='k > 0')"))
      .getMessage.contains("CONSTRAINT"))
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft_sep.db.t SET TBLPROPERTIES (" +
        "'graft.bucket.key'='k')"))
      .getMessage.contains("commitBucketed"))
  }

  test("schema-evolution races serialize through the CAS claim: " +
      "concurrent ADD and RENAME both land in some order and the " +
      "final schema + data are consistent") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))                 // v1
    val add = Future(SnapshotTable.addColumns(spark, root,
      StructType(Seq(StructField("x", IntegerType)))))
    val ren = Future(SnapshotTable.renameColumn(spark, root, "v", "w"))
    val (vA, vR) = (Await.result(add, 60.seconds),
      Await.result(ren, 60.seconds))
    assert(Set(vA, vR) == Set(2L, 3L),
      s"both evolutions must claim distinct versions, got $vA/$vR")
    val t = SnapshotTable.read(spark, root)
    assert(t.columns.toSet == Set("k", "w", "x"),
      s"lost an evolution in the race: ${t.columns.toSeq}")
    assert(t.select("k", "w").as[(Long, String)].collect()
      .sorted.toSeq == Seq((1L, "a"), (2L, "b")))
    assert(t.select("x").as[Option[Int]].collect().toSeq ==
      Seq(None, None))
  }

  test("zero-copy CLONE of a renamed table translates: the clone's " +
      "absolute-path entries keep their ORIGINAL seqs, so the copied " +
      "epochs resolve the same physical names") {
    val src = tmpRoot()
    SnapshotTable.commit(spark, src,
      Seq((1L, 10), (2L, 20)).toDF("k", "x"))                   // v1
    SnapshotTable.renameColumn(spark, src, "x", "y")            // v2
    SnapshotTable.append(spark, src,
      Seq((3L, 30)).toDF("k", "y"))                             // v3
    val dst = tmpRoot()
    SnapshotTable.cloneTable(spark, src, dst)
    assert(SnapshotTable.read(spark, dst).select("k", "y")
      .as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 10), (2L, 20), (3L, 30)),
      "clone lost the rename translation")
    // the clone diverges independently and keeps translating
    SnapshotTable.append(spark, dst,
      Seq((4L, 40)).toDF("k", "y"))
    assert(SnapshotTable.read(spark, dst).count() == 4)
    assert(SnapshotTable.read(spark, src).count() == 3)
  }

  test("the changelog spans a rename: each commit's changes serve " +
      "under THAT version's schema, and the rename commit itself is " +
      "an empty accretive delta") {
    catalogFor("graft_secdc")
    spark.sql("CREATE TABLE graft_secdc.db.t (k BIGINT, x INT)") // v1
    spark.sql("INSERT INTO graft_secdc.db.t VALUES (1, 10), (2, 20)") // v2
    spark.sql("ALTER TABLE graft_secdc.db.t RENAME COLUMN x TO y") // v3
    spark.sql("INSERT INTO graft_secdc.db.t VALUES (3, 30)")     // v4
    // pre-rename commit: its own (old-named) schema, its own rows
    val c2 = spark.sql(
      "SELECT k, x FROM graft_secdc.db.t.changes VERSION AS OF 2")
    assert(c2.as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 10), (2L, 20)))
    // the rename commit adds no files: empty, still accretive
    assert(spark.sql(
      "SELECT * FROM graft_secdc.db.t.changes VERSION AS OF 3")
      .count() == 0)
    // post-rename commit under the new name
    val c4 = spark.sql(
      "SELECT k, y FROM graft_secdc.db.t.changes VERSION AS OF 4")
    assert(c4.as[(Long, Int)].collect().toSeq == Seq((3L, 30)))
  }

  test("SQL surface: ALTER TABLE ... DROP COLUMN through the catalog, " +
      "IF EXISTS tolerated, dependency refusals surface, and the " +
      "dropped column's CURRENT DEFAULT dies with it") {
    catalogFor("graft_sedrop")
    spark.sql("CREATE TABLE graft_sedrop.db.t (k BIGINT, v STRING, " +
      "x INT DEFAULT 9)")
    spark.sql("INSERT INTO graft_sedrop.db.t VALUES (1, 'a', 5)")
    spark.sql("ALTER TABLE graft_sedrop.db.t DROP COLUMN x")
    assert(spark.table("graft_sedrop.db.t").columns.toSeq ==
      Seq("k", "v"))
    spark.sql("ALTER TABLE graft_sedrop.db.t DROP COLUMN IF EXISTS x")
    // default props are gone with the column
    val wh = spark.conf.get("spark.sql.catalog.graft_sedrop.warehouse")
    val props = SnapshotTable.tableProperties(spark, s"$wh/db/t")
    assert(!props.keys.exists(_.contains("default.x")),
      s"stale default property survived the drop: $props")
    assert(intercept[Exception](
      spark.sql("ALTER TABLE graft_sedrop.db.t DROP COLUMN nope"))
      .getMessage.contains("nope"))
  }
}
