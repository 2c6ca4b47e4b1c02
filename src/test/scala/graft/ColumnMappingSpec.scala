package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TableMerge

/** Column mapping (VERDICT r18 missing #3 / next-round #4): `ALTER
  * TABLE … RENAME/DROP COLUMN` as metadata-only commits — parquet files
  * keep their physical column names forever; readers project
  * physical→logical; writers rename logical→physical, so renamed
  * columns' new rows land under the old physical name.
  */
class ColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"graft-colmap-$tag").resolve("t").toString

  private def inodesOf(tablePath: String): Map[String, Long] = {
    val live = Paths.get(tablePath, TableMerge.liveVersion(tablePath).get)
    def walk(dir: java.io.File, prefix: String): Seq[(String, Long)] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { c =>
        val rel = if (prefix.isEmpty) c.getName else s"$prefix/${c.getName}"
        if (c.isDirectory) walk(c, rel)
        else if (c.getName.endsWith(".parquet"))
          Seq(rel -> Files.readAttributes(c.toPath,
            classOf[java.nio.file.attribute.BasicFileAttributes])
            .fileKey().hashCode().toLong)
        else Seq.empty
      }
    walk(live.toFile, "").toMap
  }

  test("RENAME COLUMN is metadata-only: same inodes, logical view renamed") {
    val path = tmpTable("rename")
    TableMerge.createOrReplace(
      (0L until 64L).map(i => (i, i * 10, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "price", "seg"), path, partitionCols = Seq("seg"))
    val before = inodesOf(path)
    spark.sql(s"ALTER TABLE graft.`$path` RENAME COLUMN price TO amount")
    assert(inodesOf(path) == before, "rename must not rewrite any data file")
    val df = TableMerge.read(spark, path)
    assert(df.columns.toSeq == Seq("id", "amount", "seg"))
    assert(df.agg(sum("amount")).as[Long].head() == (0L until 64L).map(_ * 10).sum)
    // SQL reads resolve the logical name; the physical name is gone
    assert(spark.sql(s"SELECT sum(amount) AS s FROM graft.`$path`")
      .as[Long].head() == (0L until 64L).map(_ * 10).sum)
    assertThrows[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT price FROM graft.`$path`").collect()
    }
  }

  test("writes after a rename land under the ORIGINAL physical name") {
    val path = tmpTable("write-after")
    TableMerge.createOrReplace(
      (0L until 32L).map(i => (i, i, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "price", "seg"), path, partitionCols = Seq("seg"))
    TableMerge.renameColumn(spark, path, "price", "amount")
    // day-2 merge in LOGICAL terms: new rows + an update
    TableMerge.upsert(spark, path,
      Seq((100L, 999L, "a"), (0L, 111L, "a")).toDF("id", "amount", "seg"),
      keys = Seq("seg", "id"), partitionCols = Seq("seg"))
    val df = TableMerge.read(spark, path)
    assert(df.filter(col("id") === 100L).select("amount").as[Long].head() == 999L)
    assert(df.filter(col("id") === 0L).select("amount").as[Long].head() == 111L)
    assert(df.count() == 33L)
    // old rows and new rows read through ONE physical column: the raw
    // physical schema still calls it `price` in every file
    val live = Paths.get(path, TableMerge.liveVersion(path).get)
    val raw = spark.read.option("mergeSchema", "true").parquet(live.toString)
    assert(raw.columns.contains("price") && !raw.columns.contains("amount"),
      s"physical files must keep the original name, got ${raw.columns.mkString(",")}")
  }

  test("DROP COLUMN is metadata-only; re-adding the name maps to a fresh physical") {
    val path = tmpTable("drop")
    TableMerge.createOrReplace(
      (0L until 32L).map(i => (i, i * 2, i * 3)).toDF("id", "keep", "gone"), path)
    val before = inodesOf(path)
    spark.sql(s"ALTER TABLE graft.`$path` DROP COLUMN gone")
    assert(inodesOf(path) == before, "drop must not rewrite any data file")
    assert(TableMerge.read(spark, path).columns.toSeq == Seq("id", "keep"))
    // re-add a column with the RETIRED name: old values must NOT leak
    spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (gone BIGINT)")
    val df = TableMerge.read(spark, path)
    assert(df.columns.toSeq == Seq("id", "keep", "gone"))
    assert(df.filter(col("gone").isNotNull).count() == 0L,
      "a re-added name must read as NULL, never resurrect dropped values")
    assert(df.agg(sum("keep")).as[Long].head() == (0L until 32L).map(_ * 2).sum)
  }

  test("a merge-evolved column re-using a RETIRED name cannot resurrect dropped values") {
    val path = tmpTable("resurrect")
    TableMerge.createOrReplace(
      (0L until 64L).map(i => (i, i * 2, i * 3, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "keep", "gone", "seg"), path, partitionCols = Seq("seg"))
    TableMerge.dropColumns(spark, path, Seq("gone"))
    // day-2 SCOPED merge whose source re-introduces the logical name
    // `gone`: only partition a rewrites; partition b's files still hold
    // the old physical `gone` column — the new logical column must map
    // to a FRESH physical name, never the retired one (r19 self-review:
    // the identity assignment would resurrect b's dropped values)
    TableMerge.upsert(spark, path,
      Seq((0L, 1L, 777L, "a")).toDF("id", "keep", "gone", "seg"),
      keys = Seq("seg", "id"), partitionCols = Seq("seg"))
    val df = TableMerge.read(spark, path)
    assert(df.filter(col("id") === 0L).select("gone").as[Long].head() == 777L)
    // every row of the UNTOUCHED partition must read gone as NULL
    assert(df.filter(col("seg") === "b" && col("gone").isNotNull).count() == 0L,
      "retired physical values must not resurrect through merge evolution")
    assert(df.filter(col("gone").isNotNull).count() == 1L)
    // and a SECOND scoped merge (after the sidecar schema was rewritten
    // by the first) still cannot collide with the retirement
    TableMerge.upsert(spark, path,
      Seq((2L, 1L, 888L, "a")).toDF("id", "keep", "gone", "seg"),
      keys = Seq("seg", "id"), partitionCols = Seq("seg"))
    val df2 = TableMerge.read(spark, path)
    assert(df2.filter(col("seg") === "b" && col("gone").isNotNull).count() == 0L)
    assert(df2.filter(col("gone").isNotNull).count() == 2L)
  }

  test("re-partitioning a mapped table by a RENAMED column writes physical dirs") {
    val path = tmpTable("repart")
    TableMerge.createOrReplace(
      (0L until 16L).map(i => (i, if (i % 2 == 0) "a" else "b", i))
        .toDF("id", "seg", "v"), path)
    TableMerge.renameColumn(spark, path, "seg", "segment")
    // base is FLAT; partitioning by the renamed logical column takes the
    // full-restatement path, which must partitionBy the PHYSICAL name
    // (pre-fix: AnalysisException — physDf has no column `segment`)
    TableMerge.upsert(spark, path,
      Seq((100L, "a", 999L)).toDF("id", "segment", "v"),
      keys = Seq("segment", "id"), partitionCols = Seq("segment"))
    val df = TableMerge.read(spark, path)
    assert(df.columns.toSet == Set("id", "segment", "v"))
    assert(df.count() == 17L)
    assert(df.filter(col("segment") === "a").count() == 9L)
    // dirs and PartsFile carry the PHYSICAL name
    assert(TableMerge.partitionColsOf(path) == Seq("seg"))
  }

  test("rename/drop reject partition columns and preserve time travel") {
    val path = tmpTable("guards")
    TableMerge.createOrReplace(
      (0L until 16L).map(i => (i, i, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "v", "seg"), path, partitionCols = Seq("seg"))
    val v1 = TableMerge.liveVersion(path).get
    assertThrows[IllegalArgumentException] {
      TableMerge.renameColumn(spark, path, "seg", "segment")
    }
    assertThrows[IllegalArgumentException] {
      TableMerge.dropColumns(spark, path, Seq("seg"))
    }
    TableMerge.renameColumn(spark, path, "v", "w")
    // the retained pre-rename snapshot still reads under its own names
    val old = TableMerge.readVersion(spark, path, v1)
    assert(old.columns.toSeq == Seq("id", "v", "seg"))
    assert(TableMerge.read(spark, path).columns.toSeq == Seq("id", "w", "seg"))
  }

  test("stats pruning keys follow the physical column across a rename") {
    val path = tmpTable("stats")
    TableMerge.createOrReplace(
      (0L until 4096L).map(i => (i, i % 64L)).toDF("id", "x")
        .repartitionByRange(8, col("id")), path)
    TableMerge.analyzeStats(spark, path, Seq("id"))
    TableMerge.renameColumn(spark, path, "id", "doc_id")
    // a filter on the LOGICAL name must still prune (the pushed filter
    // reaches the scan under the physical attribute, which is what the
    // stats sidecar keys on)
    val df = TableMerge.read(spark, path).filter(col("doc_id") < 512L)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scanned = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metrics("numFiles").value).sum
    assert(scanned < 8L, s"rename must not break file skipping ($scanned)")
    assert(df.count() == 512L)
    // explicit skipping read accepts the logical name too
    assert(TableMerge.readSkipping(spark, path, "doc_id", 0L, 511L).count() == 512L)
  }

  test("zorder and SQL maintenance accept logical names on a mapped table") {
    val path = tmpTable("zorder")
    TableMerge.createOrReplace(
      (0L until 2048L).map(i => (i, i % 64L, (i / 64L) % 32L))
        .toDF("id", "x", "y").repartition(4), path)
    TableMerge.renameColumn(spark, path, "x", "xx")
    val n = spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (xx, y)").head().getLong(0)
    assert(n == 1L)
    val df = TableMerge.read(spark, path)
    assert(df.columns.toSeq == Seq("id", "xx", "y"))
    assert(df.filter(col("xx") === 3L).count() == 32L)
  }

  /** A table partitioned by a column whose physical name differs from
    * its logical one: `c` is dropped, re-added (under a fresh physical
    * name) and the table restated partitioned by it. Rows (id, v, c). */
  private def mappedPartitionTable(tag: String): String = {
    val path = tmpTable(tag)
    TableMerge.createOrReplace((0L until 6L).map(i => (i, i * 10, i)).toDF("id", "v", "c"), path)
    TableMerge.dropColumns(spark, path, Seq("c"))
    spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (c INT)")
    TableMerge.restate(spark, path, TableMerge.read(spark, path)
      .withColumn("c", (col("id") % 3L).cast("int")), partitionCols = Seq("c"))
    path
  }

  test("SQL DML keeps the layout and column map of a table partitioned by a mapped column") {
    val path = mappedPartitionTable("dml-layout")
    val layout = TableMerge.partitionColsOf(path)
    assert(layout.size == 1 && layout.head != "c" && TableMerge.isColumnMapped(path),
      s"the setup must partition by a physical name other than c, got $layout")
    var model = (0L until 6L).map(i => i -> ((i * 10, (i % 3).toInt))).toMap
    def check(stmt: String): Unit = {
      spark.sql(stmt)
      assert(TableMerge.partitionColsOf(path) == layout, s"$stmt changed the layout")
      assert(TableMerge.isColumnMapped(path), s"$stmt dropped the column map")
      val got = TableMerge.read(spark, path).select("id", "v", "c").as[(Long, Long, Int)]
        .collect().map { case (i, v, c) => i -> ((v, c)) }.toMap
      assert(got == model, s"after $stmt")
    }
    model += 3L -> ((31L, 0))
    check(s"UPDATE graft.`$path` SET v = v + 1 WHERE id = 3")
    model -= 4L
    check(s"DELETE FROM graft.`$path` WHERE id = 4")
    model ++= Seq(1L -> ((111L, 1)), 20L -> ((200L, 2)))
    check(s"""MERGE INTO graft.`$path` t USING (
             |  SELECT 1L AS id, 111L AS v, 1 AS c
             |  UNION ALL SELECT 20L AS id, 200L AS v, 2 AS c) s
             |ON t.id = s.id AND t.c = s.c
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    model += 30L -> ((300L, 0))
    check(s"INSERT INTO graft.`$path` VALUES (30, 300, 0)")
    // a REPLACE defines fresh identity names, partitioned by the same column
    spark.sql(s"INSERT OVERWRITE graft.`$path` VALUES (40, 400, 1)")
    assert(TableMerge.partitionColsOf(path) == Seq("c") && !TableMerge.isColumnMapped(path))
    assert(TableMerge.read(spark, path).select("id", "v", "c").as[(Long, Long, Int)]
      .collect().toSeq == Seq((40L, 400L, 1)))
  }

  test("introspection names a mapped partition column by its logical name") {
    val path = mappedPartitionTable("introspect")
    val phys = TableMerge.partitionColsOf(path).head
    assert(phys != "c", "partitionColsOf names the directories' physical column")
    val desc = spark.sql(s"DESCRIBE TABLE graft.`$path`").collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc == Seq(("id", "bigint"), ("v", "bigint"), ("c", "int"),
      ("# Partition Information", ""), ("c", "int")), s"DESCRIBE TABLE: $desc")
    val detail = spark.sql(s"DESCRIBE DETAIL graft.`$path`").head()
    assert(detail.getAs[String]("partition_columns") == "c")
    assert(spark.sql(s"SHOW PARTITIONS graft.`$path`").as[String].collect().toSeq ==
      Seq("c=0", "c=1", "c=2"))
  }
}
