package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SnapshotExpiredException, TableMerge}

/** The manifest metadata plane (VERDICT r18 next-round #1-#3): commit-
  * time file manifests replace directory listing at read planning, the
  * stats sidecar gains null counts, pruning covers IN / IS [NOT] NULL /
  * null-safe equality, and a read racing VACUUM fails with the
  * documented error instead of a raw FileNotFoundException.
  */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"graft-manifest-$tag").resolve("t").toString

  private def scanIndexClass(df: DataFrame): String =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.getClass.getSimpleName
        }
    }.getOrElse("none")

  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metrics("numFiles").value).sum
  }

  test("reads plan from the manifest, not a directory listing (stray file invisible)") {
    val path = tmpTable("stray")
    TableMerge.createOrReplace(
      (0L until 64L).map(i => (i, i % 4L)).toDF("id", "g").repartition(4), path)
    assert(scanIndexClass(TableMerge.read(spark, path)) == "ManifestFileIndex")
    assert(TableMerge.read(spark, path).count() == 64L)
    // drop a stray parquet file into the live snapshot dir, outside the
    // commit: a listing-planned read would scan it; the manifest read
    // must not see it — behavioral proof that planning never lists
    val live = Paths.get(path, TableMerge.liveVersion(path).get)
    val strayRows = (1000L until 1100L).map(i => (i, 9L)).toDF("id", "g")
    val tmp = Files.createTempDirectory("graft-stray-src")
    strayRows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Option(tmp.toFile.listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, live.resolve("stray-not-in-manifest.parquet"))
    assert(TableMerge.read(spark, path).count() == 64L,
      "a file outside the manifest must be invisible to planning")
    // and the manifest ledger agrees with what the commit wrote
    val mf = TableMerge.manifest(path).get
    assert(mf.size == 4 && mf.forall(_._2 > 0L))
  }

  private def liveDirOf(path: String): java.nio.file.Path =
    Paths.get(path, TableMerge.liveVersion(path).get)

  /** Relative paths of every parquet file under `dir`. */
  private def parquetUnder(dir: java.nio.file.Path): Set[String] = {
    def walk(f: java.io.File, prefix: String): Set[String] =
      Option(f.listFiles()).getOrElse(Array.empty).flatMap { c =>
        val rel = if (prefix.isEmpty) c.getName else s"$prefix/${c.getName}"
        if (c.isDirectory) walk(c, rel)
        else if (c.getName.endsWith(".parquet")) Set(rel) else Set.empty[String]
      }.toSet
    walk(dir.toFile, "")
  }

  /** Drop a 100-row parquet file (ids 1000..1099) into `dir`, outside
    * any commit. */
  private def placeStray(dir: java.nio.file.Path): Unit = {
    val tmp = Files.createTempDirectory("graft-stray-src")
    (1000L until 1100L).map(i => (i, 9L)).toDF("id", "g")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dir.resolve("stray-not-in-manifest.parquet"))
  }

  test("skipping reads, ZORDER and compaction plan from the manifest (stray file invisible)") {
    def rows = (0L until 64L).map(i => (i, i % 4L)).toDF("id", "g").repartition(4, col("id"))
    val flat = tmpTable("stray-flat")
    TableMerge.createOrReplace(rows, flat)
    placeStray(liveDirOf(flat))
    val skipped = TableMerge.readSkipping(spark, flat, "id", 0L, 5000L).count()
    assert(skipped == TableMerge.read(spark, flat).filter(col("id").between(0L, 5000L)).count())
    assert(skipped == 64L, "the skipping read must take its files from the manifest")
    assert(TableMerge.zorder(spark, flat, "id", "g") == 1)
    assert(TableMerge.read(spark, flat).count() == 64L,
      "ZORDER must rewrite the manifest's rows only, not commit the stray file")
    // partitioned: the stray sits inside a partition dir that compacts
    val parted = tmpTable("stray-part")
    TableMerge.createOrReplace(rows, parted, partitionCols = Seq("g"))
    assert(TableMerge.manifest(parted).get.count(_._1.startsWith("g=1/")) > 1,
      "the stray's partition must be one that compacts")
    placeStray(liveDirOf(parted).resolve("g=1"))
    assert(TableMerge.compact(spark, parted, Seq("g"), maxFiles = 1) >= 1)
    assert(TableMerge.read(spark, parted).count() == 64L,
      "compaction must rewrite the manifest's rows only, not commit the stray file")
    assert(TableMerge.manifest(parted).get.map(_._1).toSet == parquetUnder(liveDirOf(parted)))
  }

  /** Every `_graft_*` file under a version dir, by relative path. */
  private def graftFilesUnder(dir: java.nio.file.Path): Set[String] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.startsWith("_graft_"))
        .map(dir.relativize(_).toString).toSet
    } finally s.close()
  }

  test("every commit kind leaves one layout: marker, record, manifest == files") {
    import org.apache.spark.sql.types.{LongType, StructField}
    def rows(lo: Long, n: Long): DataFrame =
      (lo until lo + n).map(i => (i, i % 4L, i * 10L)).toDF("id", "g", "v")
    for (parts <- Seq(Seq("g"), Seq.empty[String])) {
      val tag = if (parts.isEmpty) "flat" else "parted"
      val path = tmpTable(s"layout-$tag")
      val clone = tmpTable(s"layout-$tag-clone")
      val kinds: Seq[(String, String, () => Any)] = Seq(
        ("createOrReplace", path, () =>
          TableMerge.createOrReplace(rows(0, 64).repartition(4), path, parts)),
        ("scoped upsert", path, () =>
          TableMerge.upsert(spark, path, rows(60, 8), Seq("g", "id"), parts)),
        ("full upsert", path, () =>
          TableMerge.upsert(spark, path, rows(70, 8), Seq("id"), parts)),
        ("replaceKeys", path, () =>
          TableMerge.replaceKeys(spark, path, rows(101, 1), Seq(Tuple1(1L)).toDF("g"),
            Seq("g"), parts)),
        ("delete", path, () =>
          TableMerge.delete(spark, path, Seq(Tuple1(2L)).toDF("id"), Seq("id"))),
        ("restate", path, () =>
          TableMerge.restate(spark, path, TableMerge.read(spark, path), parts)),
        ("compact", path, () => TableMerge.compact(spark, path, parts, maxFiles = 0)),
        ("zorder", path, () => TableMerge.zorder(spark, path, "id", "v")),
        ("analyzeStats", path, () => TableMerge.analyzeStats(spark, path, Seq("id"))),
        ("addColumns", path, () =>
          TableMerge.addColumns(spark, path, Seq(StructField("w", LongType)))),
        ("renameColumn", path, () => TableMerge.renameColumn(spark, path, "v", "v2")),
        ("dropColumns", path, () => TableMerge.dropColumns(spark, path, Seq("w"))),
        ("restore", path, () => TableMerge.restore(path, TableMerge.versions(path)(1))),
        ("cloneTable", clone, () => TableMerge.cloneTable(path, clone)))
      val metadataOnly = Set("analyzeStats", "addColumns", "renameColumn", "dropColumns",
        "restore")
      kinds.foreach { case (kind, table, commit) =>
        val what = s"$kind ($tag)"
        val before = TableMerge.liveVersion(table)
        // the parent's record bytes and schema, to check that a
        // metadata-only commit writes its own record, never the parent's
        val parent = before.map(v => (Files.readAllBytes(
          Paths.get(table, v, "_graft_snapshot.json")).toSeq,
          TableMerge.readVersion(spark, table, v).schema))
        commit()
        assert(TableMerge.liveVersion(table).nonEmpty && TableMerge.liveVersion(table) != before,
          s"$what must commit a new version")
        val live = liveDirOf(table)
        val stats = if (TableMerge.statColumnsOf(table).nonEmpty) Set("_graft_stats.tsv") else Set.empty[String]
        assert(graftFilesUnder(live) ==
          Set("_graft_committed", "_graft_snapshot.json", "_graft_manifest.tsv") ++ stats,
          s"$what: the live dir must hold the marker, the record and the manifest, " +
            "plus the stats ledger exactly when stat columns are declared")
        assert(TableMerge.partitionColsOf(table) == parts,
          s"$what: the record must keep the partition columns")
        assert(TableMerge.manifest(table).get.map(_._1).toSet == parquetUnder(live),
          s"$what: the manifest must list exactly the parquet files under the live dir")
        if (metadataOnly(kind)) parent.foreach { case (bytes, schema) =>
          val v = before.get
          assert(Files.readAllBytes(Paths.get(table, v, "_graft_snapshot.json")).toSeq == bytes &&
            TableMerge.readVersion(spark, table, v).schema == schema,
            s"$what must leave the parent version's record untouched")
        }
      }
      assert(TableMerge.read(spark, clone).count() == TableMerge.read(spark, path).count())
    }
  }

  test("a version dir of the old sidecar layout fails with the delete-and-rebuild message") {
    val path = tmpTable("old-layout")
    val df = (0L until 16L).map(i => (i, i % 2L)).toDF("id", "g")
    TableMerge.createOrReplace(df, path, partitionCols = Seq("g"))
    // rewrite the live version as the old layout wrote it: the schema and
    // parts sidecars beside the marker and the manifest, no record
    val live = liveDirOf(path)
    Files.delete(live.resolve("_graft_snapshot.json"))
    Files.writeString(live.resolve("_graft_schema.json"), df.schema.json)
    Files.writeString(live.resolve("_graft_parts.txt"), "g")
    val e = intercept[IllegalStateException](TableMerge.read(spark, path))
    assert(e.getMessage.contains("delete it and rebuild it"), e.getMessage)
  }

  test("a partition-scoped merge maintains the manifest incrementally") {
    val path = tmpTable("incr")
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "even" else "odd", i))
      .toDF("id", "par", "v")
    TableMerge.createOrReplace(df, path, partitionCols = Seq("par"))
    val before = TableMerge.manifest(path).get.toMap
    val beforeOdd = before.keySet.filter(_.startsWith("par=odd/"))
    assert(beforeOdd.nonEmpty && before.keySet.exists(_.startsWith("par=even/")))
    // restate only the even partition
    TableMerge.upsert(spark, path,
      (0L until 100L).map(i => (i * 2, "even", i * 2 * 10)).toDF("id", "par", "v"),
      keys = Seq("par", "id"), partitionCols = Seq("par"))
    val after = TableMerge.manifest(path).get.toMap
    // untouched partition rows carried VERBATIM (same names and sizes)
    assert(after.view.filterKeys(_.startsWith("par=odd/")).toMap ==
      before.view.filterKeys(_.startsWith("par=odd/")).toMap,
      "untouched partition manifest rows must carry verbatim")
    // and the ledger matches the actual tree exactly (self-consistency)
    val live = Paths.get(path, TableMerge.liveVersion(path).get)
    def walk(dir: java.io.File, prefix: String): Set[String] =
      Option(dir.listFiles()).getOrElse(Array.empty).flatMap { c =>
        val rel = if (prefix.isEmpty) c.getName else s"$prefix/${c.getName}"
        if (c.isDirectory) walk(c, rel)
        else if (c.getName.endsWith(".parquet")) Set(rel) else Set.empty[String]
      }.toSet
    assert(after.keySet == walk(live.toFile, ""))
    assert(TableMerge.read(spark, path).agg(sum("v")).as[Long].head() ==
      (0L until 400L).map(i => if (i % 2 == 0 && i < 200) i * 10 else i).sum)
  }

  test("a partition-scoped merge over a layout-mismatched base restates fully (no row loss)") {
    val path = tmpTable("layout-switch")
    // base laid out FLAT (a delete() without partitionCols restates
    // unpartitioned — the real-world path that produced this)
    TableMerge.createOrReplace(
      (0L until 40L).map(i => (i, i % 4, i)).toDF("id", "g", "v"), path)
    assert(TableMerge.partitionColsOf(path).isEmpty)
    // a partition-scoped upsert touching ONE group: pre-r19 the scoped
    // path hard-link-carried only col=val trees, silently dropping every
    // flat-base row outside the touched groups
    TableMerge.upsert(spark, path,
      Seq((100L, 0L, 999L)).toDF("id", "g", "v"),
      keys = Seq("g", "id"), partitionCols = Seq("g"))
    val df = TableMerge.read(spark, path)
    assert(df.count() == 41L, "layout-switch merge must keep every base row")
    assert(df.filter(col("id") === 100L).count() == 1L)
    // the restatement re-partitioned the table; manifest and tree agree
    assert(TableMerge.partitionColsOf(path) == Seq("g"))
    val mf = TableMerge.manifest(path).get
    assert(mf.forall(_._1.startsWith("g=")))
    // and a SECOND scoped merge (layouts now match) links quietly
    TableMerge.upsert(spark, path,
      Seq((101L, 1L, 888L)).toDF("id", "g", "v"),
      keys = Seq("g", "id"), partitionCols = Seq("g"))
    assert(TableMerge.read(spark, path).count() == 42L)
  }

  test("scoped merges track ESCAPED partition dirs (values with : / %)") {
    val path = tmpTable("escape")
    // partition values Spark's writer path-escapes: ':' → %3A etc.
    val df = Seq((1L, "a:b", 10L), (2L, "a:b", 20L), (3L, "plain", 30L),
      (4L, "x/y", 40L)).toDF("id", "par", "v")
    TableMerge.createOrReplace(df, path, partitionCols = Seq("par"))
    // scoped upsert INTO the escaped partition: its base manifest rows
    // must drop (files rewrote under new names) — pre-fix the raw
    // touched string 'par=a:b' never matched the escaped rel prefix and
    // stale rows survived, so the manifest listed vanished files
    TableMerge.upsert(spark, path,
      Seq((1L, "a:b", 111L)).toDF("id", "par", "v"),
      keys = Seq("par", "id"), partitionCols = Seq("par"))
    val read1 = TableMerge.read(spark, path)
    assert(read1.count() == 4L)
    assert(read1.filter(col("id") === 1L).select("v").as[Long].head() == 111L)
    val mf = TableMerge.manifest(path).get.toMap
    // manifest must equal the actual tree exactly
    val live = java.nio.file.Paths.get(path, TableMerge.liveVersion(path).get)
    def walk(dir: java.io.File, prefix: String): Set[String] =
      Option(dir.listFiles()).getOrElse(Array.empty).flatMap { c =>
        val rel = if (prefix.isEmpty) c.getName else s"$prefix/${c.getName}"
        if (c.isDirectory) walk(c, rel)
        else if (c.getName.endsWith(".parquet")) Set(rel) else Set.empty[String]
      }.toSet
    assert(mf.keySet == walk(live.toFile, ""),
      "manifest must match the tree for escaped partition values")
    // whole-partition DROP of the escaped partition: pre-fix the linked
    // old tree resurrected the deleted rows
    TableMerge.replaceKeys(spark, path,
      Seq.empty[(Long, String, Long)].toDF("id", "par", "v"),
      dropGroups = Seq(("a:b", 0L)).toDF("par", "id").select("par"),
      groupKeys = Seq("par"), partitionCols = Seq("par"))
    val read2 = TableMerge.read(spark, path)
    assert(read2.filter(col("par") === "a:b").count() == 0L,
      "dropped escaped partition must not resurrect")
    assert(read2.count() == 2L)
  }

  test("a read planned over an expired snapshot fails with the documented error") {
    val path = tmpTable("vacuum-race")
    TableMerge.createOrReplace(
      (0L until 64L).map(i => (i, i)).toDF("id", "v"), path)
    val planned = TableMerge.read(spark, path) // plans over v1
    // concurrent writer commits v2, then retention expires v1
    TableMerge.createOrReplace(
      (0L until 32L).map(i => (i, -i)).toDF("id", "v"), path)
    assert(TableMerge.expireVersions(path, 0L) == 1)
    val e = intercept[SnapshotExpiredException] { planned.count() }
    assert(e.getMessage.contains("expired") &&
      e.getMessage.contains("retention"),
      s"documented remedy expected, got: ${e.getMessage}")
    // a FRESH read resolves the live snapshot and works
    assert(TableMerge.read(spark, path).count() == 32L)
  }

  test("IN-list filters prune files through the set probe") {
    val path = tmpTable("inlist")
    // 8 id-range-clustered files: ids [0,512) in contiguous slices
    TableMerge.createOrReplace(
      (0L until 4096L).map(i => (i, i % 64L, i)).toDF("id", "x", "v")
        .repartitionByRange(8, col("id")), path)
    TableMerge.analyzeStats(spark, path, Seq("id"))
    val full = filesScanned(TableMerge.read(spark, path))
    assert(full == 8L)
    // two nearby ids: both land in one or two files — the rest prune
    val in2 = TableMerge.read(spark, path).filter(col("id").isin(10L, 20L))
    assert(filesScanned(in2) <= 2L, "IN-list must prune by membership probe")
    assert(in2.count() == 2L)
    // >10 elements converts to InSet in the optimizer — still prunes
    val many = (0L until 15L).map(_ + 100L)
    val inSet = TableMerge.read(spark, path).filter(col("id").isin(many: _*))
    assert(filesScanned(inSet) <= 2L, "InSet must prune too")
    assert(inSet.count() == 15L)
    // an IN whose min/max straddle everything but whose members all
    // miss a file's range still prunes that file (set probe, not just
    // min/max): ids 5 and 4000 → first and last file only
    val straddle = TableMerge.read(spark, path).filter(col("id").isin(5L, 4000L))
    assert(filesScanned(straddle) <= 2L,
      "membership probe must beat the min/max envelope")
    assert(straddle.count() == 2L)
  }

  test("IS NULL / IS NOT NULL / comparisons prune via per-file null counts") {
    val path = tmpTable("nulls")
    // file layout by id ranges; v is NULL only in the low-id slice, and
    // w is ALL-null in every slice but carries values in none
    val rows = (0L until 4096L).map { i =>
      (i, if (i < 512) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i))
    }
    val df = rows.toDF("id", "v").repartitionByRange(8, col("id"))
    TableMerge.createOrReplace(df, path)
    TableMerge.analyzeStats(spark, path, Seq("id", "v"))
    val full = filesScanned(TableMerge.read(spark, path))
    assert(full == 8L)
    // IS NULL: only the slice that actually holds nulls scans
    val isNull = TableMerge.read(spark, path).filter(col("v").isNull)
    assert(filesScanned(isNull) <= 2L, "null-free files must prune for IS NULL")
    assert(isNull.count() == 512L)
    // a comparison on v prunes the ALL-null file (no row can match)
    val cmp = TableMerge.read(spark, path).filter(col("v") === 600L)
    assert(filesScanned(cmp) <= 2L)
    assert(cmp.count() == 1L)
    // IS NOT NULL prunes nothing here except all-null files; build one:
    val path2 = tmpTable("allnull")
    val rows2 = (0L until 1024L).map { i =>
      (i, if (i < 512) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i))
    }
    // two files: ids [0,512) all-null v, ids [512,1024) non-null v
    TableMerge.createOrReplace(
      rows2.toDF("id", "v").repartitionByRange(2, col("id")), path2)
    TableMerge.analyzeStats(spark, path2, Seq("v"))
    val notNull = TableMerge.read(spark, path2).filter(col("v").isNotNull)
    assert(filesScanned(notNull) == 1L, "the all-null file must prune for IS NOT NULL")
    assert(notNull.count() == 512L)
    // null-safe equality against a value behaves like equality
    val nsEq = TableMerge.read(spark, path2).filter(col("v") <=> 600L)
    assert(filesScanned(nsEq) == 1L)
    assert(nsEq.count() == 1L)
  }

  test("manifest reads reproduce partition values exactly (escapes, nulls, types)") {
    val path = tmpTable("partvals")
    val df = Seq(
      (1L, "plain", 10L), (2L, "w space", 20L), (3L, "a/b:c", 30L),
      (4L, null.asInstanceOf[String], 40L), (5L, "plain", 50L)
    ).toDF("id", "par", "v")
    TableMerge.createOrReplace(df, path, partitionCols = Seq("par"))
    val back = TableMerge.read(spark, path)
    assert(scanIndexClass(back) == "ManifestFileIndex")
    assert(back.select("id", "par", "v").as[(Long, String, Long)].collect().toSet ==
      Set((1L, "plain", 10L), (2L, "w space", 20L), (3L, "a/b:c", 30L),
        (4L, null, 40L), (5L, "plain", 50L)))
    // partition pruning still engages on the manifest-parsed values
    val pruned = back.filter(col("par") === "plain")
    assert(pruned.count() == 2L)
    // date-typed partition columns cast through the session zone
    val path2 = tmpTable("partdate")
    val df2 = Seq((1L, java.sql.Date.valueOf("2024-03-01")),
      (2L, java.sql.Date.valueOf("2024-03-02"))).toDF("id", "d")
    TableMerge.createOrReplace(df2, path2, partitionCols = Seq("d"))
    assert(TableMerge.read(spark, path2)
      .filter(col("d") === java.sql.Date.valueOf("2024-03-02"))
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("scoped merges track TIMESTAMP partition dirs (writer rendering, not toString)") {
    val path = tmpTable("ts-part")
    // midnight timestamps: java.sql.Timestamp.toString renders
    // '2024-03-01 00:00:00.0' while Spark's writer names the dir
    // 'ts=2024-03-01 00%3A00%3A00' — the r19 ADVICE desync class
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")
    val df = Seq((1L, t0, 10L), (2L, t0, 20L), (3L, t1, 30L)).toDF("id", "ts", "v")
    TableMerge.createOrReplace(df, path, partitionCols = Seq("ts"))
    TableMerge.upsert(spark, path,
      Seq((1L, t0, 111L)).toDF("id", "ts", "v"),
      keys = Seq("ts", "id"), partitionCols = Seq("ts"))
    val read1 = TableMerge.read(spark, path)
    assert(read1.count() == 3L)
    assert(read1.filter(col("id") === 1L).select("v").as[Long].head() == 111L)
    // the manifest must equal the actual tree: stale rows for the
    // rewritten t0 files would reference vanished paths
    val live = Paths.get(path, TableMerge.liveVersion(path).get)
    def walk(dir: java.io.File, prefix: String): Set[String] =
      Option(dir.listFiles()).getOrElse(Array.empty).flatMap { c =>
        val rel = if (prefix.isEmpty) c.getName else s"$prefix/${c.getName}"
        if (c.isDirectory) walk(c, rel)
        else if (c.getName.endsWith(".parquet")) Set(rel) else Set.empty[String]
      }.toSet
    assert(TableMerge.manifest(path).get.toMap.keySet == walk(live.toFile, ""),
      "manifest must match the tree for timestamp partition values")
    // whole-partition DROP of t0 must not resurrect the linked old tree
    TableMerge.replaceKeys(spark, path,
      Seq.empty[(Long, java.sql.Timestamp, Long)].toDF("id", "ts", "v"),
      dropGroups = Seq(Tuple1(t0)).toDF("ts"),
      groupKeys = Seq("ts"), partitionCols = Seq("ts"))
    val read2 = TableMerge.read(spark, path)
    assert(read2.filter(col("ts") === t0).count() == 0L,
      "dropped timestamp partition must not resurrect")
    assert(read2.count() == 1L)
    // and the writer's null/empty rule is pinned at the unit level too
    import org.apache.spark.sql.graft.bridge
    assert(bridge.partitionPathSegment("p", "") == "p=__HIVE_DEFAULT_PARTITION__")
    assert(bridge.partitionPathSegment("p", null) == "p=__HIVE_DEFAULT_PARTITION__")
    assert(bridge.partitionPathSegment("p", "a:b") == "p=a%3Ab")
  }

  test("partition grouping parses once per snapshot per process") {
    val path = tmpTable("groupmemo")
    TableMerge.createOrReplace(
      (0L until 100L).map(i => (i, i % 5L, i)).toDF("id", "g", "v"),
      path, partitionCols = Seq("g"))
    val live = Paths.get(path, TableMerge.liveVersion(path).get).toString
    TableMerge.read(spark, path).count()
    val builds = org.apache.spark.sql.graft.bridge.manifestGroupingBuildsFor(live)
    assert(builds >= 1L)
    (1 to 3).foreach(_ => TableMerge.read(spark, path).count())
    assert(org.apache.spark.sql.graft.bridge.manifestGroupingBuildsFor(live) == builds,
      "repeat reads of the same snapshot must not re-group the manifest")
    // a new commit is a NEW snapshot dir — it pays its own single build
    TableMerge.upsert(spark, path,
      Seq((0L, 0L, 999L)).toDF("id", "g", "v"),
      keys = Seq("g", "id"), partitionCols = Seq("g"))
    val live2 = Paths.get(path, TableMerge.liveVersion(path).get).toString
    assert(live2 != live)
    TableMerge.read(spark, path).count()
    TableMerge.read(spark, path).count()
    assert(org.apache.spark.sql.graft.bridge.manifestGroupingBuildsFor(live2) == 1L,
      "a new snapshot pays exactly one grouping build")
  }

  test("a malformed manifest row fails OPEN (skipped), not the whole table") {
    val path = tmpTable("malformed")
    TableMerge.createOrReplace(
      (0L until 60L).map(i => (i, i % 3L, i)).toDF("id", "g", "v"),
      path, partitionCols = Seq("g"))
    // a stray ROOT-LEVEL row in a partitioned manifest (depth 0 vs 1):
    // the blind staged-tree backfill of a hand-touched layout can
    // produce this; pre-r20 the require made EVERY read throw, forever
    val live = Paths.get(path, TableMerge.liveVersion(path).get)
    val mf = live.resolve("_graft_manifest.tsv")
    Files.writeString(mf,
      Files.readString(mf) + "stray-at-root.parquet\t123\n")
    val df = TableMerge.read(spark, path)
    assert(df.count() == 60L, "well-formed rows must keep reading")
    assert(df.agg(sum("v")).as[Long].head() == (0L until 60L).sum)
  }

  test("scoped merges recompute stats for TOUCHED files only, carrying the rest verbatim") {
    val path = tmpTable("stats-scope")
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "even" else "odd", i))
      .toDF("id", "par", "v")
    TableMerge.createOrReplace(df, path, partitionCols = Seq("par"))
    TableMerge.analyzeStats(spark, path, Seq("id", "v"))
    def statsLines(): Map[String, Set[String]] = {
      val live = Paths.get(path, TableMerge.liveVersion(path).get)
      Files.readString(live.resolve("_graft_stats.tsv")).linesIterator.toSeq
        .groupBy(l => if (l.startsWith("par=odd/")) "odd" else "even")
        .view.mapValues(_.toSet).toMap
    }
    val before = statsLines()
    assert(before("odd").nonEmpty && before("even").nonEmpty)
    TableMerge.upsert(spark, path,
      Seq((0L, "even", 12345L)).toDF("id", "par", "v"),
      keys = Seq("par", "id"), partitionCols = Seq("par"))
    val after = statsLines()
    assert(after("odd") == before("odd"),
      "untouched partitions' stats rows must carry VERBATIM (no recompute)")
    assert(after("even") != before("even"),
      "touched partitions' stats rows must be freshly recorded")
    // and the fresh rows reflect the new data (12345 is the new max of v)
    assert(after("even").exists(l => l.contains("\tv\t") && l.endsWith("\t12345")))
  }

  test("zero-row tables and metadata-only commits keep manifest-planned reads") {
    val path = tmpTable("zero")
    spark.sql(s"CREATE TABLE graft.`$path` (id BIGINT, seg STRING) PARTITIONED BY (seg)")
    val empty = TableMerge.read(spark, path)
    assert(scanIndexClass(empty) == "ManifestFileIndex")
    assert(empty.count() == 0L && empty.columns.toSeq == Seq("id", "seg"))
    spark.sql(s"INSERT INTO graft.`$path` VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (score BIGINT)")
    val evolved = TableMerge.read(spark, path)
    assert(scanIndexClass(evolved) == "ManifestFileIndex")
    assert(evolved.columns.toSeq == Seq("id", "score", "seg"))
    assert(evolved.count() == 2L)
    assert(TableMerge.manifest(path).get.size == 2)
  }
}
