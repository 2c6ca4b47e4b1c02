package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableMerge

/** SQL `MERGE INTO` over TableMerge tables (VERDICT r15 #7): the
  * reference's literal statement shape parses through Spark's own SQL
  * parser and executes with Delta-style clause semantics — first
  * matching WHEN wins, conditional clauses, DELETE, NOT MATCHED BY
  * SOURCE, star expansion — committing through the partition-scoped
  * copy-on-write path (quiet partitions keep their inodes), with the
  * multi-match nondeterminism guard failing loudly.
  */
class SqlMergeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def tmpTable(name: String): String =
    Files.createTempDirectory(s"graft-sqlmerge-$name").resolve("t").toString

  private def rows(path: String): Set[(Long, String, Long)] = {
    import spark.implicits._
    TableMerge.read(spark, path).select("id", "part", "v")
      .as[(Long, String, Long)].collect().toSet
  }

  test("the reference statement shape: UPDATE SET * / INSERT *") {
    import spark.implicits._
    val path = tmpTable("star")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    Seq((2L, "a", 200L), (4L, "c", 40L)).toDF("id", "part", "v")
      .createOrReplaceTempView("sqlmerge_star_updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING sqlmerge_star_updates AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(path) == Set(
      (1L, "a", 10L), (2L, "a", 200L), (3L, "b", 30L), (4L, "c", 40L)))
  }

  test("conditional clauses in order, DELETE, and NOT MATCHED BY SOURCE") {
    import spark.implicits._
    val path = tmpTable("clauses")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (9L, "b", 90L))
        .toDF("id", "part", "v"), path, partitionCols = Seq("part"))
    Seq((1L, 5L), (2L, 99L), (7L, 70L), (8L, 4L))
      .toDF("id", "nv").createOrReplaceTempView("sqlmerge_clause_updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING sqlmerge_clause_updates AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.nv < 10 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv * 2
         |WHEN NOT MATCHED AND s.nv >= 50 THEN INSERT (id, part, v) VALUES (s.id, 'z', s.nv)
         |WHEN NOT MATCHED BY SOURCE AND t.v > 50 THEN DELETE""".stripMargin)
    assert(rows(path) == Set(
      // id 1 deleted (nv<10); id 2 updated to 198 (first matching clause
      // after the delete guard); id 7 inserted into z (nv>=50); id 8
      // dropped (no insert clause fires); id 9 by-source-deleted (v>50);
      // id 3 untouched
      (2L, "a", 198L), (3L, "b", 30L), (7L, "z", 70L)))
  }

  test("quiet partitions keep their inodes through a SQL merge") {
    import spark.implicits._
    val path = tmpTable("inodes")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (3L, "b", 30L), (5L, "q", 50L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    def live = java.nio.file.Paths.get(path).resolve(
      Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    def inodes(p: String): Set[Long] =
      Option(live.resolve(s"part=$p").toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    val quietB = inodes("b")
    val quietQ = inodes("q")
    assert(quietB.nonEmpty && quietQ.nonEmpty)
    Seq((1L, 100L), (6L, 60L)).toDF("id", "nv")
      .createOrReplaceTempView("sqlmerge_inode_updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING sqlmerge_inode_updates AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (id, part, v) VALUES (s.id, 'a', s.nv)""".stripMargin)
    assert(rows(path) == Set(
      (1L, "a", 100L), (3L, "b", 30L), (5L, "q", 50L), (6L, "a", 60L)))
    assert(inodes("b") == quietB, "quiet partition b rewritten by SQL merge")
    assert(inodes("q") == quietQ, "quiet partition q rewritten by SQL merge")
  }

  test("an update that MOVES a row across partitions rewrites both homes") {
    import spark.implicits._
    val path = tmpTable("move")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "q", 30L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    Seq((1L, "b")).toDF("id", "npart").createOrReplaceTempView("sqlmerge_move_updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING sqlmerge_move_updates AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET part = s.npart""".stripMargin)
    assert(rows(path) == Set((1L, "b", 10L), (2L, "b", 20L), (3L, "q", 30L)))
    assert(TableMerge.read(spark, path).filter($"id" === 1).count() == 1,
      "moved row must not survive in its old partition")
  }

  test("a target row matching two source rows fails loudly") {
    import spark.implicits._
    val path = tmpTable("dup")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L)).toDF("id", "part", "v"), path, partitionCols = Seq("part"))
    Seq((1L, 1L), (1L, 2L)).toDF("id", "nv")
      .createOrReplaceTempView("sqlmerge_dup_updates")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` AS t USING sqlmerge_dup_updates AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("more than one source row")),
      s"unexpected: $e")
  }

  test("insert-only merge: duplicate source matches keep the target row ONCE") {
    import spark.implicits._
    val path = tmpTable("insonly")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (3L, "b", 30L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    // id=1 matched by TWO source rows — legal for an insert-only merge
    // (no matched clause can fire); Delta keeps the target row once
    Seq((1L, "a", 111L), (1L, "a", 222L), (4L, "c", 40L))
      .toDF("id", "part", "v").createOrReplaceTempView("sqlmerge_insonly_src")
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t USING sqlmerge_insonly_src AS s
         |ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(path) == Set((1L, "a", 10L), (3L, "b", 30L), (4L, "c", 40L)),
      "duplicate-matched target row must survive exactly once, unchanged")
    assert(TableMerge.read(spark, path).filter($"id" === 1).count() == 1,
      "insert-only merge duplicated a multi-matched target row")
  }

  test("conditional matched clauses: duplicate matches legal when at most one fires") {
    import spark.implicits._
    val path = tmpTable("conddup")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    // id=1: two matches, only nv=100 passes the clause condition → legal,
    // updates once; id=2: two matches, BOTH fire → nondeterministic, error
    Seq((1L, 100L), (1L, 5L)).toDF("id", "nv")
      .createOrReplaceTempView("sqlmerge_conddup_ok")
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t USING sqlmerge_conddup_ok AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.nv >= 50 THEN UPDATE SET v = s.nv""".stripMargin)
    assert(rows(path) == Set((1L, "a", 100L), (2L, "a", 20L)))
    Seq((2L, 100L), (2L, 200L)).toDF("id", "nv")
      .createOrReplaceTempView("sqlmerge_conddup_bad")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` AS t USING sqlmerge_conddup_bad AS s
           |ON t.id = s.id
           |WHEN MATCHED AND s.nv >= 50 THEN UPDATE SET v = s.nv""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("more than one source row")), s"unexpected: $e")
    assert(rows(path) == Set((1L, "a", 100L), (2L, "a", 20L)),
      "failed merge must not mutate the table")
  }

  test("SQL UPDATE: conditional assignment, cross-partition move, quiet inodes") {
    import spark.implicits._
    val path = tmpTable("update")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (5L, "q", 50L))
        .toDF("id", "part", "v"), path, partitionCols = Seq("part"))
    def live = java.nio.file.Paths.get(path).resolve(
      Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    def inodes(p: String): Set[Long] =
      Option(live.resolve(s"part=$p").toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    val quietQ = inodes("q")
    spark.sql(s"UPDATE graft.`$path` SET v = v * 10 WHERE id < 3")
    assert(rows(path) == Set(
      (1L, "a", 100L), (2L, "a", 200L), (3L, "b", 30L), (5L, "q", 50L)))
    assert(inodes("q") == quietQ, "quiet partition rewritten by SQL UPDATE")
    // partition-moving update: both old and new homes rewrite
    spark.sql(s"UPDATE graft.`$path` SET part = 'b' WHERE id = 1")
    assert(rows(path) == Set(
      (1L, "b", 100L), (2L, "a", 200L), (3L, "b", 30L), (5L, "q", 50L)))
    assert(spark.sql(s"SELECT count(*) FROM graft.`$path` WHERE id = 1")
      .head().getLong(0) == 1, "moved row duplicated or lost")
  }

  test("SQL DELETE: predicate delete with quiet-partition inodes") {
    import spark.implicits._
    val path = tmpTable("delete")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (5L, "q", 50L))
        .toDF("id", "part", "v"), path, partitionCols = Seq("part"))
    def live = java.nio.file.Paths.get(path).resolve(
      Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    def inodes(p: String): Set[Long] =
      Option(live.resolve(s"part=$p").toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    val quietB = inodes("b")
    val quietQ = inodes("q")
    spark.sql(s"DELETE FROM graft.`$path` WHERE part = 'a' AND v >= 20")
    assert(rows(path) == Set((1L, "a", 10L), (3L, "b", 30L), (5L, "q", 50L)))
    assert(inodes("b") == quietB && inodes("q") == quietQ,
      "quiet partitions rewritten by SQL DELETE")
  }

  test("SQL INSERT INTO appends partition-scoped; INSERT OVERWRITE restates") {
    import spark.implicits._
    val path = tmpTable("insert")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (3L, "b", 30L), (5L, "q", 50L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    def live = java.nio.file.Paths.get(path).resolve(
      Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    def inodes(p: String): Set[Long] =
      Option(live.resolve(s"part=$p").toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    val quietB = inodes("b")
    val quietQ = inodes("q")
    // canonical positional order = read-back schema (partition cols LAST,
    // the Hive/Spark convention for partitioned inserts)
    spark.sql(s"INSERT INTO graft.`$path` VALUES (7, 70, 'a'), (8, 80, 'a')")
    assert(rows(path) == Set((1L, "a", 10L), (3L, "b", 30L), (5L, "q", 50L),
      (7L, "a", 70L), (8L, "a", 80L)))
    assert(inodes("b") == quietB && inodes("q") == quietQ,
      "append must rewrite only the partitions the new rows land in")
    spark.sql(s"INSERT OVERWRITE graft.`$path` VALUES (9, 90, 'z')")
    assert(rows(path) == Set((9L, "z", 90L)))
    // the pre-overwrite snapshot stays time-travel-readable
    val prev = TableMerge.versions(path)(1)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$path@$prev`")
      .head().getLong(0) == 5L)
  }

  test("SQL time travel: graft.`path@v-…` reads the pinned snapshot; DML on it is rejected") {
    import spark.implicits._
    val path = tmpTable("tt")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    val v1 = TableMerge.versions(path).head
    spark.sql(s"DELETE FROM graft.`$path` WHERE id = 2")
    assert(spark.sql(s"SELECT sum(v) FROM graft.`$path`").head().getLong(0) == 10L)
    assert(spark.sql(s"SELECT sum(v) FROM graft.`$path@$v1`").head().getLong(0) == 30L,
      "time-travel read must see the pre-delete snapshot")
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$path@$v1` WHERE id = 1")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("read-only")), s"unexpected: $e")
  }

  test("SQL DDL: partitioned CREATE, metadata-only ADD COLUMNS, insert, read back") {
    import spark.implicits._
    val path = tmpTable("ddl")
    spark.sql(
      s"CREATE TABLE graft.`$path` (id BIGINT, v BIGINT, part STRING) PARTITIONED BY (part)")
    assert(TableMerge.read(spark, path).count() == 0, "created table must be empty")
    assert(TableMerge.read(spark, path).columns.toSeq == Seq("id", "v", "part"),
      "read-back order: data columns then partition columns")
    // plain CREATE on an existing table fails; IF NOT EXISTS no-ops
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$path` (x BIGINT)")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("already exists")), s"unexpected: $e")
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft.`$path` (x BIGINT)") // no-op
    assert(TableMerge.read(spark, path).columns.length == 3)
    spark.sql(s"INSERT INTO graft.`$path` VALUES (1, 10, 'a'), (2, 20, 'b')")
    // ADD COLUMNS is metadata-only: data file inodes unchanged, old rows
    // read back NULL in the new column
    def live = java.nio.file.Paths.get(path).resolve(
      Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    def inodes(p: String): Set[Long] =
      Option(live.resolve(s"part=$p").toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    val beforeA = inodes("a")
    val beforeB = inodes("b")
    assert(beforeA.nonEmpty && beforeB.nonEmpty)
    spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (quality BIGINT, lang STRING)")
    assert(inodes("a") == beforeA && inodes("b") == beforeB,
      "ADD COLUMNS must not rewrite any data file")
    val evolved = TableMerge.read(spark, path)
    // added columns append after the existing DATA columns; the
    // partition column keeps its trailing read-back position
    assert(evolved.columns.toSeq == Seq("id", "v", "quality", "lang", "part"))
    assert(evolved.filter($"quality".isNotNull || $"lang".isNotNull).count() == 0,
      "pre-evolution rows must read back NULL in added columns")
    // post-evolution insert carries the new columns end-to-end
    spark.sql(s"INSERT INTO graft.`$path` VALUES (3, 30, 7, 'en', 'a')")
    val got = spark.sql(
      s"SELECT id, v, part, quality, lang FROM graft.`$path` ORDER BY id")
      .as[(Long, Long, String, Option[Long], Option[String])].collect().toSeq
    assert(got == Seq(
      (1L, 10L, "a", None, None), (2L, 20L, "b", None, None),
      (3L, 30L, "a", Some(7L), Some("en"))))
    // incompatible redefinition: adding an existing column is rejected
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMN v BIGINT")
    }
    assert(msgs(e2).exists(_.contains("already exist")), s"unexpected: $e2")
  }

  test("SQL DDL: CTAS, CREATE OR REPLACE AS, DROP TABLE") {
    import spark.implicits._
    val path = tmpTable("ctas")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "part", "v")
      .createOrReplaceTempView("sqlddl_ctas_src")
    spark.sql(
      s"""CREATE TABLE graft.`$path` PARTITIONED BY (part) AS
         |SELECT id, v, part FROM sqlddl_ctas_src""".stripMargin)
    assert(rows(path) == Set((1L, "a", 10L), (2L, "b", 20L)))
    // plain CTAS on an existing table fails loudly
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$path` AS SELECT 1 AS x")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("already exists")), s"unexpected: $e")
    spark.sql(
      s"""CREATE OR REPLACE TABLE graft.`$path` AS
         |SELECT id, part, v * 2 AS v FROM sqlddl_ctas_src""".stripMargin)
    assert(rows(path) == Set((1L, "a", 20L), (2L, "b", 40L)))
    spark.sql(s"DROP TABLE graft.`$path`")
    assert(!TableMerge.exists(path), "DROP TABLE must remove the table")
    spark.sql(s"DROP TABLE IF EXISTS graft.`$path`") // no-op
    val e2 = intercept[Exception] { spark.sql(s"DROP TABLE graft.`$path`") }
    assert(msgs(e2).exists(_.contains("no graft table")), s"unexpected: $e2")
  }

  test("named-catalog addressing: graft.db.table resolves for DDL, DML, SELECT") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-warehouse")
    spark.conf.set("spark.graft.warehouse", wh.toString)
    try {
      // warehouse-rooted name: zero registration needed
      spark.sql("CREATE TABLE graft.silver.k16docs (id BIGINT, v BIGINT, part STRING) " +
        "PARTITIONED BY (part)")
      assert(Files.exists(wh.resolve("silver").resolve("k16docs")),
        "named table must land under the warehouse root")
      spark.sql("INSERT INTO graft.silver.k16docs VALUES (1, 10, 'a'), (2, 20, 'b')")
      spark.sql("UPDATE graft.silver.k16docs SET v = v + 1 WHERE id = 1")
      val got = spark.sql("SELECT id, v, part FROM graft.silver.k16docs ORDER BY id")
        .as[(Long, Long, String)].collect().toSeq
      assert(got == Seq((1L, 11L, "a"), (2L, 20L, "b")))
      // CTAS through a NAME (k16's battery row seeds by cloneTable since
      // r18, so the statement's name-addressed coverage is pinned here)
      spark.sql("CREATE OR REPLACE TABLE graft.silver.k16ctas " +
        "PARTITIONED BY (part) AS SELECT id, v, part FROM graft.silver.k16docs")
      assert(spark.sql("SELECT sum(v) AS sv FROM graft.silver.k16ctas")
        .head().getLong(0) == 31L)
      // explicit registration overrides the warehouse mapping
      val path = tmpTable("named")
      TableMerge.createOrReplace(
        Seq((9L, "z", 90L)).toDF("id", "part", "v"), path, Seq("part"))
      graft.plans.SqlMerge.GraftCatalog.register("silver", "elsewhere", path)
      try {
        assert(spark.sql("SELECT sum(v) AS sv FROM graft.silver.elsewhere")
          .head().getLong(0) == 90L)
        Seq((9L, 99L)).toDF("id", "nv").createOrReplaceTempView("k16spec_updates")
        spark.sql(
          """MERGE INTO graft.silver.elsewhere AS t USING k16spec_updates AS s
            |ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
        assert(TableMerge.read(spark, path).select("v").head().getLong(0) == 99L,
          "merge through the registered name must hit the registered path")
      } finally graft.plans.SqlMerge.GraftCatalog.unregister("silver", "elsewhere")
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("SELECT over graft.`path` reads the live version (and sees merges)") {
    import spark.implicits._
    val path = tmpTable("select")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    val n = spark.sql(s"SELECT count(*) AS n, sum(v) AS sv FROM graft.`$path`")
      .as[(Long, Long)].head()
    assert(n == ((2L, 30L)))
  }

  // ---- maintenance statements: OPTIMIZE / VACUUM / RESTORE / HISTORY ----

  private def liveDir(path: String) = java.nio.file.Paths.get(path).resolve(
    Files.readString(java.nio.file.Paths.get(path, "_current")).trim)

  private def partFiles(path: String, part: String): Seq[java.io.File] =
    Option(liveDir(path).resolve(s"part=$part").toFile.listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).toSeq

  test("OPTIMIZE compacts only overflowing partitions; quiet ones keep inodes") {
    import spark.implicits._
    val path = tmpTable("optimize")
    // partition a written as 6 files (repartition(6)); partition b as 1
    val frag = (1L to 12L).map(i => (i, "a", i * 10L)).toDF("id", "part", "v")
      .repartition(6)
    TableMerge.createOrReplace(
      frag.unionByName(Seq((99L, "b", 990L)).toDF("id", "part", "v")),
      path, partitionCols = Seq("part"))
    assert(partFiles(path, "a").size > 4, "fixture must overflow maxFiles=4")
    val quietB = partFiles(path, "b")
      .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    val before = rows(path)
    val n = spark.sql(s"OPTIMIZE graft.`$path`").head().getLong(0)
    assert(n == 1L, "exactly the overflowing partition compacts")
    assert(partFiles(path, "a").size == 1, "compaction coalesces to one file")
    assert(partFiles(path, "b").map(f =>
      Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet == quietB,
      "quiet partition rewritten by OPTIMIZE")
    assert(rows(path) == before, "compaction must not change content")
    // second run: nothing overflows, no commit
    val v = TableMerge.liveVersion(path)
    assert(spark.sql(s"OPTIMIZE graft.`$path`").head().getLong(0) == 0L)
    assert(TableMerge.liveVersion(path) == v, "no-op OPTIMIZE must not commit")
  }

  test("RESTORE rolls content back as a NEW commit; VACUUM expires; HISTORY reports") {
    import spark.implicits._
    val path = tmpTable("restore")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "part", "v"),
      path, partitionCols = Seq("part"))
    val v1 = TableMerge.versions(path).head
    spark.sql(s"DELETE FROM graft.`$path` WHERE id = 1")
    assert(rows(path) == Set((2L, "b", 20L)))

    // restore: content == v1, history moves FORWARD (v1 still retained)
    val newLive = spark.sql(
      s"RESTORE TABLE graft.`$path` TO VERSION AS OF '$v1'").head().getString(0)
    assert(newLive != v1, "restore must commit a NEW version, not repoint")
    assert(rows(path) == Set((1L, "a", 10L), (2L, "b", 20L)))
    assert(TableMerge.commitMeta(path).get("restoredFrom").contains(v1))
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$path`")
      .as[(String, Boolean, Long, String)].collect().toSeq
    assert(hist.size == 3, s"3 commits retained, got $hist")
    assert(hist.head._1 == newLive && hist.head._2, "newest row is the live one")
    assert(hist.count(_._2) == 1, "exactly one live version")
    assert(hist.head._4.contains(s"restoredFrom=$v1"))
    // restoring the live version is a no-op (no new commit)
    assert(spark.sql(s"RESTORE TABLE graft.`$path` VERSION AS OF '$newLive'")
      .head().getString(0) == newLive)
    assert(TableMerge.versions(path).size == 3)

    // vacuum: everything but live expires; expired snapshot unreadable
    val expired = spark.sql(s"VACUUM graft.`$path` RETAIN 0 HOURS").head().getLong(0)
    assert(expired == 2L)
    assert(TableMerge.versions(path) == Seq(newLive))
    assertThrows[IllegalArgumentException](TableMerge.readVersion(spark, path, v1))
    assert(rows(path) == Set((1L, "a", 10L), (2L, "b", 20L)), "live survives VACUUM")
  }

  test("RESTORE hard-links data files (no rewrite) and rejects unknown versions") {
    import spark.implicits._
    val path = tmpTable("restorelink")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L)).toDF("id", "part", "v"), path, partitionCols = Seq("part"))
    val v1 = TableMerge.versions(path).head
    val v1Inodes = partFiles(path, "a")
      .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    spark.sql(s"UPDATE graft.`$path` SET v = 99 WHERE id = 1")
    spark.sql(s"RESTORE TABLE graft.`$path` TO VERSION AS OF '$v1'")
    assert(partFiles(path, "a").map(f =>
      Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet == v1Inodes,
      "restore must hard-link the snapshot's data files")
    // fresh commit identity: marker/txn files are NOT shared with v1
    assert(TableMerge.versionMeta(path, v1).isEmpty,
      "restore must not write through to the source snapshot's txn sidecar")
    assertThrows[IllegalArgumentException](
      spark.sql(s"RESTORE TABLE graft.`$path` TO VERSION AS OF 'v-0'"))
    // a non-graft target falls through to Spark's own parse error
    assertThrows[Exception](spark.sql("VACUUM some_table RETAIN 0 HOURS"))
  }

  test("OPTIMIZE ZORDER BY re-clusters files into bounded column ranges") {
    import spark.implicits._
    val path = tmpTable("zorder")
    // 4096 rows on a 64×64 grid, written round-robin into 8 files: every
    // file initially spans the FULL x range
    val grid = (0L until 4096L).map(i => (i, i % 64L, (i / 64L) % 64L))
      .toDF("id", "x", "y").repartition(8)
    TableMerge.createOrReplace(grid, path)
    def fileSpans(): Seq[(Long, Long)] = {
      val files = Option(liveDir(path).toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).toSeq
      files.map { f =>
        val r = spark.read.parquet(f.getPath).agg(min("x"), max("x")).head()
        (r.getLong(0), r.getLong(1))
      }
    }
    val before = fileSpans()
    assert(before.size == 8 && before.forall { case (lo, hi) => hi - lo == 63L },
      "round-robin fixture must start with full-range files")
    val n = spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (x, y)").head().getLong(0)
    assert(n == 1L, "one (unpartitioned) unit rewritten")
    val after = fileSpans()
    assert(after.size == 8, "zorder keeps the unit's file count")
    // 8 contiguous z-slices split on (y-top, x-top, y-2nd) bits: most
    // files halve their x span; range-boundary files may straddle, so
    // assert a 25% shrink rather than the ideal halving
    val spanSum = after.map { case (lo, hi) => hi - lo }.sum
    assert(spanSum < 8L * 63 * 3 / 4,
      s"z-clustering must shrink per-file x spans (footer-stat skipping); got $after")
    // content invariant
    assert(TableMerge.read(spark, path).as[(Long, Long, Long)].collect().toSet ==
      (0L until 4096L).map(i => (i, i % 64L, (i / 64L) % 64L)).toSet)
  }

  test("readSkipping after ZORDER prunes files by sidecar stats, same answer") {
    import spark.implicits._
    val path = tmpTable("skipping")
    val grid = (0L until 4096L).map(i => (i, i % 64L, (i / 64L) % 64L))
      .toDF("id", "x", "y").repartition(8)
    TableMerge.createOrReplace(grid, path)
    spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (x, y)")
    val stats = TableMerge.fileStats(path)
    assert(stats.size == 8, s"stats sidecar must cover all 8 files, got ${stats.size}")
    assert(stats.values.forall(_.keySet == Set("x", "y")))
    // a narrow x slice: provably-missing files are dropped BEFORE read
    val kept = stats.count { case (_, cols) =>
      cols("x") match {
        case TableMerge.NumRange(_, lo, hi) => hi >= 0L && lo <= 7L
        case _ => true
      }
    }
    assert(kept < 8, s"z-layout must let an x-slice skip files (kept=$kept)")
    val viaSkip = TableMerge.readSkipping(spark, path, "x", 0L, 7L)
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    val viaFull = TableMerge.read(spark, path).filter(col("x").between(0, 7))
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    assert(viaSkip == viaFull, "skipping read must equal the filtered full read")
    assert(viaSkip._1 == 512L)
    // a table never z-ordered has no stats: skipping degrades to full read
    val path2 = tmpTable("noskip")
    TableMerge.createOrReplace(grid, path2)
    assert(TableMerge.fileStats(path2).isEmpty)
    assert(TableMerge.readSkipping(spark, path2, "x", 0L, 7L).count() == 512L)
  }

  test("partition-scoped OPTIMIZE … WHERE … ZORDER BY leaves other partitions linked") {
    import spark.implicits._
    val path = tmpTable("zscope")
    val rows4k = (0L until 2048L).flatMap(i =>
      Seq((i, "a", i % 64L, (i / 64L) % 32L), (i + 10000L, "b", i % 64L, (i / 64L) % 32L)))
    TableMerge.createOrReplace(
      rows4k.toDF("id", "part", "x", "y").repartition(4),
      path, partitionCols = Seq("part"))
    val quietB = partFiles(path, "b")
      .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    val n = spark.sql(
      s"OPTIMIZE graft.`$path` WHERE part = 'a' ZORDER BY (x, y)").head().getLong(0)
    assert(n == 1L, "exactly the scoped partition rewrites")
    assert(partFiles(path, "b").map(f =>
      Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet == quietB,
      "unscoped partition must hard-link through a scoped ZORDER")
    val stats = TableMerge.fileStats(path)
    assert(stats.nonEmpty && stats.keySet.forall(_.startsWith("part=a/")),
      s"stats cover only the re-clustered partition, got ${stats.keySet}")
    // content invariant + the skipping read stays correct across a
    // mixed layout (stats on a, none on b)
    assert(TableMerge.readSkipping(spark, path, "x", 0L, 3L).count() ==
      TableMerge.read(spark, path).filter(col("x").between(0, 3)).count())
    // WHERE on a non-partition column rejects
    assertThrows[IllegalArgumentException](spark.sql(
      s"OPTIMIZE graft.`$path` WHERE x = '1' ZORDER BY (x, y)"))
  }

  test("file-range stats survive partition-scoped merges on untouched partitions") {
    import spark.implicits._
    val path = tmpTable("statcarry")
    val rows = (0L until 1024L).flatMap(i =>
      Seq((i, "a", i % 64L, i % 32L), (i + 10000L, "b", i % 64L, i % 32L)))
    TableMerge.createOrReplace(rows.toDF("id", "part", "x", "y").repartition(4),
      path, partitionCols = Seq("part"))
    spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (x, y)")
    val statsB = TableMerge.fileStats(path).filter(_._1.startsWith("part=b/"))
    assert(statsB.nonEmpty)
    val statsABefore = TableMerge.fileStats(path).filter(_._1.startsWith("part=a/"))
    // merge lands in partition a only: b's stats must carry verbatim;
    // a's files are rewritten under fresh names — their old entries
    // must vanish and FRESH ranges must be recorded for the new files
    // (r18: every write path maintains the declared stat columns)
    TableMerge.upsert(spark, path,
      Seq((9999L, "a", 1L, 1L)).toDF("id", "part", "x", "y"),
      keys = Seq("part", "id"), partitionCols = Seq("part"))
    val after = TableMerge.fileStats(path)
    assert(after.filter(_._1.startsWith("part=b/")) == statsB,
      "untouched partition's stats must survive the merge")
    val afterA = after.filter(_._1.startsWith("part=a/"))
    assert(afterA.keySet.intersect(statsABefore.keySet).isEmpty,
      "rewritten partition must not keep stale ranges under old file names")
    // fresh stats key exactly the current a-side files (skipping
    // survives the merge instead of decaying to always-read)
    val liveA = {
      val live = java.nio.file.Paths.get(path,
        TableMerge.liveVersion(path).get, "part=a")
      Option(live.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(f => s"part=a/${f.getName}").toSet
    }
    assert(afterA.keySet == liveA,
      s"post-merge files must carry fresh ranges: stats=${afterA.keySet} files=$liveA")
    assert(afterA.values.forall(_.keySet == Set("x", "y")))
    assert(TableMerge.readSkipping(spark, path, "x", 0L, 3L).count() ==
      TableMerge.read(spark, path).filter(col("x").between(0, 3)).count())
    // the k20 physical claim: a narrow scan of the POST-MERGE version
    // still skips files (pre-r18 it decayed to full scans)
    val total = filesScanned(TableMerge.read(spark, path))
    val narrow = filesScanned(
      TableMerge.read(spark, path).filter(col("x").between(0, 3)))
    assert(narrow < total,
      s"post-merge skipping must still prune ($narrow/$total files)")
  }

  test("ZORDER and readSkipping survive ALTER ADD COLUMNS (pre-evolution files)") {
    import spark.implicits._
    val path = tmpTable("zevolve")
    TableMerge.createOrReplace(
      (0L until 256L).map(i => (i, "a", i % 16L, i % 8L))
        .toDF("id", "part", "x", "y").repartition(4),
      path, partitionCols = Seq("part"))
    spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (x, y)")
    spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (score BIGINT)")
    // stats survive the metadata-only commit (files hard-link unchanged)
    assert(TableMerge.fileStats(path).nonEmpty,
      "ALTER must carry the stats sidecar (files are name-unchanged links)")
    // the skipping read sees the evolved schema: pre-evolution files
    // read `score` as NULL, column set identical to the full read
    val viaSkip = TableMerge.readSkipping(spark, path, "x", 0L, 3L)
    assert(viaSkip.columns.contains("score"),
      "skipping read must use the sidecar schema, not footer inference")
    assert(viaSkip.filter(col("score").isNotNull).count() == 0L)
    assert(viaSkip.count() ==
      TableMerge.read(spark, path).filter(col("x").between(0, 3)).count())
    // re-clustering on the ADDED column over pre-evolution files: the
    // unit read must resolve `score` as typed NULLs, not fail
    val n = spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (score, y)").head().getLong(0)
    assert(n == 1L)
    assert(TableMerge.read(spark, path).count() == 256L)
  }

  test("every read of a z-ordered table file-prunes automatically (scan metric)") {
    import spark.implicits._
    val path = tmpTable("autoskip")
    TableMerge.createOrReplace(
      (0L until 4096L).map(i => (i, i % 64L, (i / 64L) % 64L))
        .toDF("id", "x", "y").repartition(8), path)
    spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (x, y)")
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
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
    // full scan touches all 8 files; a narrow x slice through the SAME
    // read() entry point — no readSkipping call anywhere — touches fewer
    val full = filesScanned(TableMerge.read(spark, path))
    assert(full == 8L, s"expected 8 files in the full scan, got $full")
    val narrow = filesScanned(TableMerge.read(spark, path).filter(col("x") <= 3))
    assert(narrow < 8L, s"pushed range filter must skip files, scanned $narrow")
    // the SQL SELECT path prunes too, and the answer is exact
    val viaSql = spark.sql(
      s"SELECT count(*) AS n, sum(id) AS s FROM graft.`$path` WHERE x <= 3")
      .as[(Long, Long)].head()
    val expect = (0L until 4096L).filter(i => i % 64L <= 3L)
    assert(viaSql == ((expect.size.toLong, expect.sum)))
  }

  test("timestamp stats prune in micros; legacy integral rows never match ts literals") {
    import spark.implicits._
    val path = tmpTable("tsguard")
    // r18: ts stats record kind `t` = epoch MICROS — the same unit a
    // pushed TimestampType literal carries — so a ts range filter
    // prunes files, exactly
    val rows = (0L until 512L).map(i =>
      (i, new java.sql.Timestamp(1700000000000L + i * 60000L), i % 16L))
    TableMerge.createOrReplace(rows.toDF("id", "ts", "x").repartition(8), path)
    spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (ts, x)")
    assert(TableMerge.fileStats(path).values.exists(_.get("ts").exists {
      case TableMerge.NumRange('t', _, _) => true
      case _ => false
    }), "ts stats must record as kind t (epoch micros)")
    val cut = new java.sql.Timestamp(1700000000000L + 256L * 60000L)
    val df = TableMerge.read(spark, path).filter(col("ts") >= lit(cut))
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scanned = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metrics("numFiles").value).sum
    assert(df.count() == 256L)
    assert(scanned < 8L, s"micros stats must prune a ts range scan ($scanned)")
    // SCALE-MISMATCH GUARD: a pre-r18 sidecar recorded cast(ts AS long)
    // = epoch SECONDS as a kind-less 4-field row; such a row must record
    // no range, so a micros-valued timestamp literal never compares
    // against it (1e6 scale apart — it would wrongly prune every file).
    // The legacy ledger goes into a clone no read has parsed yet (each
    // snapshot's ledger parses once per process), and replaces the
    // clone's hard-linked sidecar instead of writing through it into
    // the source snapshot.
    val legacyPath = tmpTable("tsguard-legacy")
    TableMerge.cloneTable(path, legacyPath)
    val ledger = java.nio.file.Paths.get(legacyPath, TableMerge.liveVersion(legacyPath).get)
      .resolve("_graft_stats.tsv")
    val legacy = Files.readString(ledger).linesIterator
      .flatMap(_.split('\t') match {
        case Array(rel, "ts", "t", lo, hi) =>
          Some(s"$rel\tts\t${lo.toLong / 1000000L}\t${hi.toLong / 1000000L}")
        case Array(rel, c, _, lo, hi) => Some(s"$rel\t$c\t$lo\t$hi")
        case _ => None
      }).toSeq
    assert(legacy.exists(_.split('\t')(1) == "ts"), "the legacy ledger must carry ts rows")
    Files.delete(ledger)
    Files.writeString(ledger, legacy.mkString("\n"))
    assert(TableMerge.fileStats(legacyPath).isEmpty, "4-field ledger rows must record no range")
    val n = TableMerge.read(spark, legacyPath).filter(col("ts") >= lit(cut)).count()
    assert(n == 256L,
      s"timestamp-literal bounds must not narrow seconds-scale legacy stats (got $n rows)")
    assert(TableMerge.fileStats(path).values.exists(_.get("ts").exists {
      case TableMerge.NumRange('t', _, _) => true
      case _ => false
    }), "the source snapshot's ledger must be untouched")
  }

  test("case-differing ZORDER BY identifiers still produce matching stats") {
    import spark.implicits._
    val path = tmpTable("zcase")
    TableMerge.createOrReplace(
      (0L until 1024L).map(i => (i, i % 64L, i % 32L)).toDF("id", "x", "y")
        .repartition(8), path)
    spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (X, Y)")
    assert(TableMerge.fileStats(path).values.forall(_.keySet == Set("x", "y")),
      "stats must key under the schema's own column case")
    // automatic pruning engages despite the case-differing statement
    val df = TableMerge.read(spark, path).filter(col("x") <= 3)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scanned = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metrics("numFiles").value).sum
    assert(scanned < 8L, s"case-canonical stats must still skip files ($scanned)")
    assert(TableMerge.readSkipping(spark, path, "X", 0L, 3L).count() == df.count())
  }

  private def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
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

  test("analyzeStats + string range filters prune files (UTF-8-binary bounds)") {
    import spark.implicits._
    val path = tmpTable("strstats")
    // 8 range-clustered files over a string key: 'a000'…'h999'
    val df = (0L until 4096L).map { i =>
      (i, f"${('a' + i / 512).toChar}${i % 512}%03d", i % 7L)
    }.toDF("id", "s", "x").repartitionByRange(8, col("s"))
    TableMerge.createOrReplace(df, path)
    TableMerge.analyzeStats(spark, path, Seq("s"))
    assert(TableMerge.statColumnsOf(path) == Seq("s"))
    val stats = TableMerge.fileStats(path)
    assert(stats.size == 8 && stats.values.forall(_.get("s").exists(
      _.isInstanceOf[TableMerge.StrRange])))
    // equality and range predicates both prune; answers exact
    val eq = TableMerge.read(spark, path).filter(col("s") === "c100")
    assert(filesScanned(eq) < 8L, "string equality must skip files")
    assert(eq.count() == 1L)
    val range = TableMerge.read(spark, path)
      .filter(col("s") >= "b" && col("s") < "d")
    assert(filesScanned(range) < 8L, "string range must skip files")
    assert(range.count() == 1024L)
    // boundary correctness vs the unpruned algebra
    assert(range.agg(sum("id")).as[Long].head() ==
      (512L until 1536L).sum)
  }

  test("string stats truncate long values with a sound upper bound") {
    import spark.implicits._
    val path = tmpTable("strtrunc")
    val pad = "z" * 100 // every value far past the 64-char cap
    val df = (0L until 1024L).map { i =>
      (i, f"${('a' + i / 256).toChar}$pad${i % 256}%03d")
    }.toDF("id", "s").repartitionByRange(4, col("s"))
    TableMerge.createOrReplace(df, path)
    TableMerge.analyzeStats(spark, path, Seq("s"))
    val stats = TableMerge.fileStats(path)
    assert(stats.values.forall(_.get("s").exists {
      case TableMerge.StrRange(lo, hi) => lo.length <= 64 && hi.length <= 65
      case _ => false
    }), "recorded bounds must be truncated")
    // the truncated hi must still be >= every value in its file: a
    // range that ends INSIDE a file's true span keeps the file
    val q = TableMerge.read(spark, path).filter(col("s") >= s"b$pad" + "000")
    assert(q.count() == 768L, "truncation must never lose rows")
    assert(filesScanned(q) < 4L, "prefix-incremented bounds still prune")
  }

  test("string stats survive adversarial content: tabs, newlines, astral chars") {
    import spark.implicits._
    val path = tmpTable("strevil")
    // values that stress the TSV escaping (tab/newline/backslash), the
    // UTF-8-vs-UTF-16 order divergence (astral plane U+10400 sorts
    // AFTER U+FFFD in UTF-8 binary but its UTF-16 high surrogate D801
    // sorts BEFORE), empty strings, and the 64-char truncation boundary
    val evil = Seq(
      "", "\t", "a\tb", "line1\nline2", "back\\slash", "\r\n",
      "�-replacement", new String(Character.toChars(0x10400)) + "astral",
      "z" * 63, "z" * 64, "z" * 65, "y" * 64 + "tail",
      "normal middle value", "ZZZ", "aaa")
    val df = evil.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "s").repartitionByRange(4, col("s"))
    TableMerge.createOrReplace(df, path)
    TableMerge.analyzeStats(spark, path, Seq("s"))
    val stats = TableMerge.fileStats(path)
    assert(stats.nonEmpty)
    // every recorded bound must round-trip the TSV escaping: re-read
    // equals what a fresh scan of the same files would record
    val again = {
      TableMerge.analyzeStats(spark, path, Seq("s"))
      TableMerge.fileStats(path)
    }
    assert(again == stats, "stats must round-trip the sidecar encoding")
    // correctness under every predicate shape the visitor narrows —
    // skipping must be invisible at any bound content
    for (cut <- Seq("", "a", "￾", "z" * 64, "line1\n", "ZZZ")) {
      def viaFull(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
        // bypass stats: read the live version dir directly
        val live = java.nio.file.Paths.get(path, TableMerge.liveVersion(path).get)
        spark.read.parquet(live.toString).filter(p(col("s"))).count()
      }
      assert(TableMerge.read(spark, path).filter(col("s") >= cut).count() ==
        viaFull(_ >= cut), s"'>=' mismatch at cut=${cut.take(8)}")
      assert(TableMerge.read(spark, path).filter(col("s") < cut).count() ==
        viaFull(_ < cut), s"'<' mismatch at cut=${cut.take(8)}")
      assert(TableMerge.read(spark, path).filter(col("s") === cut).count() ==
        viaFull(_ === cut), s"'=' mismatch at cut=${cut.take(8)}")
    }
  }

  test("analyzeStats + date range filters prune files in epoch days") {
    import spark.implicits._
    val path = tmpTable("datestats")
    val df = (0L until 2048L).map(i => (i, java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i / 8))))
      .toDF("id", "d").repartitionByRange(8, col("d"))
    TableMerge.createOrReplace(df, path)
    TableMerge.analyzeStats(spark, path, Seq("d"))
    assert(TableMerge.fileStats(path).values.forall(_.get("d").exists {
      case TableMerge.NumRange('d', _, _) => true
      case _ => false
    }))
    val cut = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(192))
    val q = TableMerge.read(spark, path).filter(col("d") >= lit(cut))
    assert(filesScanned(q) < 8L, "date range must skip files")
    assert(q.count() == 2048L - 192 * 8)
  }

  test("declared stats survive full-rewrite writes (unpartitioned upsert)") {
    import spark.implicits._
    val path = tmpTable("statfull")
    TableMerge.createOrReplace(
      (0L until 2048L).map(i => (i, i / 256L)).toDF("id", "x")
        .repartitionByRange(8, col("x")), path)
    TableMerge.analyzeStats(spark, path, Seq("x"))
    // unpartitioned upsert = whole-snapshot rewrite through writeVersion:
    // the declared column must be re-statted on the fresh files
    TableMerge.upsert(spark, path, Seq((9999L, 1L)).toDF("id", "x"), Seq("id"))
    assert(TableMerge.statColumnsOf(path) == Seq("x"),
      "stat declaration must survive a full rewrite")
    val stats = TableMerge.fileStats(path)
    assert(stats.nonEmpty, "fresh files must carry fresh ranges")
    val q = TableMerge.read(spark, path).filter(col("x") === 7L)
    assert(q.count() == 256L)
    assert(filesScanned(q) < filesScanned(TableMerge.read(spark, path)),
      "post-rewrite skipping must still engage")
  }

  test("compaction re-stats rewritten units; quiet units keep ranges verbatim") {
    import spark.implicits._
    val path = tmpTable("statcompact")
    // partition a fragments over 6 writer tasks; b's single row lands
    // in one file and stays under maxFiles
    val rows = (0L until 1024L).map(i => (i, "a", i % 64L, i % 32L)) :+
      ((10000L, "b", 1L, 1L))
    TableMerge.createOrReplace(rows.toDF("id", "part", "x", "y").repartition(6),
      path, partitionCols = Seq("part"))
    spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (x, y)")
    val statsB = TableMerge.fileStats(path).filter(_._1.startsWith("part=b/"))
    assert(statsB.nonEmpty)
    val n = TableMerge.compact(spark, path, Seq("part"), maxFiles = 4)
    assert(n == 1, s"only the overflowing partition compacts, got $n")
    val after = TableMerge.fileStats(path)
    assert(after.filter(_._1.startsWith("part=b/")) == statsB,
      "quiet unit's ranges must carry verbatim through compaction")
    val afterA = after.filter(_._1.startsWith("part=a/"))
    assert(afterA.nonEmpty,
      "compacted files must carry FRESH ranges (pre-r18 they were stat-less)")
    val liveA = {
      val live = java.nio.file.Paths.get(path,
        TableMerge.liveVersion(path).get, "part=a")
      Option(live.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(f => s"part=a/${f.getName}").toSet
    }
    assert(afterA.keySet == liveA,
      s"stats must key the compacted files exactly: ${afterA.keySet} vs $liveA")
    assert(TableMerge.readSkipping(spark, path, "x", 0L, 3L).count() ==
      TableMerge.read(spark, path).filter(col("x").between(0, 3)).count())
  }

  test("compaction and ANALYZE handle units whose files predate ALTER ADD COLUMNS") {
    import spark.implicits._
    val path = tmpTable("compactevolve")
    // 6 pre-evolution files in one unit (fragmented write), then a
    // metadata-only ALTER: the unit's FOOTERS lack `score`
    TableMerge.createOrReplace(
      (0L until 64L).map(i => (i, "a", i % 8L)).toDF("id", "part", "v")
        .repartition(6),
      path, partitionCols = Seq("part"))
    spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (score BIGINT)")
    // ANALYZE over the ALTER-added column must scan with the sidecar
    // schema (typed NULLs on pre-evolution footers), not crash on an
    // unresolved column; all-null files record no range
    spark.sql(s"ANALYZE TABLE graft.`$path` COMPUTE STATISTICS FOR COLUMNS score, v")
    assert(TableMerge.statColumnsOf(path) == Seq("score", "v"))
    assert(TableMerge.fileStats(path).values.forall(!_.contains("score")),
      "all-null evolved column must record no range")
    // compact the pre-evolution unit: the rewrite reads with the
    // sidecar schema, so the evolved column survives as typed NULLs
    // and fresh stats record only the non-null column
    assert(TableMerge.compact(spark, path, Seq("part"), maxFiles = 4) == 1)
    val df = TableMerge.read(spark, path)
    assert(df.columns.contains("score"))
    assert(df.filter(col("score").isNotNull).count() == 0L)
    assert(df.count() == 64L)
    // and values written AFTER the evolution stat and prune normally
    TableMerge.upsert(spark, path,
      Seq((1000L, "a", 5L, 42L)).toDF("id", "part", "v", "score"),
      keys = Seq("part", "id"), partitionCols = Seq("part"))
    assert(TableMerge.read(spark, path).filter(col("score") === 42L).count() == 1L)
    assert(TableMerge.fileStats(path).values.exists(_.contains("score")),
      "post-evolution rewrite must record the evolved column's range")
  }

  test("SQL ANALYZE TABLE declares stat columns and enables skipping") {
    import spark.implicits._
    val path = tmpTable("sqlanalyze")
    TableMerge.createOrReplace(
      (0L until 1024L).map(i => (i, i / 128L)).toDF("id", "x")
        .repartitionByRange(8, col("x")), path)
    spark.sql(s"ANALYZE TABLE graft.`$path` COMPUTE STATISTICS FOR COLUMNS id, x")
    assert(TableMerge.statColumnsOf(path) == Seq("id", "x"))
    val q = TableMerge.read(spark, path).filter(col("x") === 3L)
    assert(q.count() == 128L)
    assert(filesScanned(q) < 8L, "SQL-declared stats must prune")
    // unsupported column type errors through the SQL surface too
    val path2 = tmpTable("sqlanalyze2")
    TableMerge.createOrReplace(Seq((1L, 2.5)).toDF("id", "f"), path2)
    intercept[Exception](
      spark.sql(s"ANALYZE TABLE graft.`$path2` COMPUTE STATISTICS FOR COLUMNS f")
        .collect())
  }

  test("analyzeStats rejects partition columns, unknown and collated columns") {
    import spark.implicits._
    val path = tmpTable("statreject")
    TableMerge.createOrReplace(
      Seq((1L, "a", 2.5, "x")).toDF("id", "part", "f", "s"),
      path, partitionCols = Seq("part"))
    intercept[IllegalArgumentException](
      TableMerge.analyzeStats(spark, path, Seq("part")))
    intercept[IllegalArgumentException](
      TableMerge.analyzeStats(spark, path, Seq("nope")))
    intercept[IllegalArgumentException](
      TableMerge.analyzeStats(spark, path, Seq("f"))) // double: unsupported
    // non-default collation: ordering disagrees with UTF-8-binary
    // ranges — conservatively unsupported
    val path2 = tmpTable("statcollate")
    TableMerge.createOrReplace(
      Seq((1L, "A")).toDF("id", "s")
        .select(col("id"), expr("collate(s, 'UTF8_LCASE')").as("s")), path2)
    intercept[IllegalArgumentException](
      TableMerge.analyzeStats(spark, path2, Seq("s")))
  }

  test("SHOW DATABASES / SHOW TABLES / DESCRIBE TABLE enumerate the catalog") {
    import graft.plans.SqlMerge.GraftCatalog
    val p1 = tmpTable("show1")
    val p2 = tmpTable("show2")
    GraftCatalog.register("specdb", "alpha", p1)
    GraftCatalog.register("specdb", "beta", p2)
    try {
      spark.sql(
        "CREATE TABLE graft.specdb.alpha (id BIGINT, part STRING) PARTITIONED BY (part)")
      assert(spark.sql("SHOW DATABASES IN graft").collect()
        .map(_.getString(0)).contains("specdb"))
      // beta is registered but never created: SHOW TABLES omits it
      assert(spark.sql("SHOW TABLES IN graft.specdb").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet == Set(("specdb", "alpha")))
      val desc = spark.sql("DESCRIBE TABLE graft.specdb.alpha").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(desc == Seq(("id", "bigint"), ("part", "string"),
        ("# Partition Information", ""), ("part", "string")),
        s"DESCRIBE must report read-back order + partition section, got $desc")
      // path-addressed DESCRIBE and the short DESC form work too
      assert(spark.sql(s"DESC graft.`$p1`").count() == 4L)
      // a non-graft DESCRIBE falls through to Spark's own resolution
      intercept[Exception](spark.sql("DESCRIBE TABLE no_such_table_xyz").collect())
      // DESCRIBE of a missing graft table errors loudly
      intercept[Exception](spark.sql("DESCRIBE TABLE graft.specdb.beta").collect())
    } finally {
      GraftCatalog.unregister("specdb", "alpha")
      GraftCatalog.unregister("specdb", "beta")
    }
  }

  test("maintenance statements reject pinned-snapshot targets") {
    import spark.implicits._
    val path = tmpTable("maintpin")
    TableMerge.createOrReplace(
      Seq((1L, "a", 10L)).toDF("id", "part", "v"), path, partitionCols = Seq("part"))
    val v1 = TableMerge.versions(path).head
    assertThrows[IllegalArgumentException](
      spark.sql(s"VACUUM graft.`$path@$v1` RETAIN 0 HOURS"))
    assertThrows[IllegalArgumentException](
      spark.sql(s"OPTIMIZE graft.`$path@$v1`"))
  }

  test("DESCRIBE DETAIL reports manifest facts; SHOW PARTITIONS guards") {
    import spark.implicits._
    val path = tmpTable("detail")
    TableMerge.createOrReplace(
      (0L until 32L).map(i => (i, i, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "v", "seg"), path, partitionCols = Seq("seg"))
    val row = spark.sql(s"DESCRIBE DETAIL graft.`$path`").head()
    assert(row.getString(0) == "graft-parquet")
    assert(row.getString(2) == TableMerge.liveVersion(path).get)
    // facts come from the manifest, so they must agree with it exactly
    val mf = TableMerge.manifest(path).get
    assert(row.getLong(3) == mf.size.toLong)
    assert(row.getLong(4) == mf.map(_._2).sum)
    assert(row.getString(5) == "seg")
    assert(row.getLong(6) == 1L)
    assert(!row.getBoolean(8))
    spark.sql(s"ALTER TABLE graft.`$path` RENAME COLUMN v TO w")
    assert(spark.sql(s"DESCRIBE DETAIL graft.`$path`").head().getBoolean(8),
      "column_mapping must flip once a rename lands")
    // SHOW PARTITIONS: partitioned table enumerates; unpartitioned errors
    assert(spark.sql(s"SHOW PARTITIONS graft.`$path`")
      .as[String].collect().sorted.toSeq == Seq("seg=a", "seg=b"))
    val flat = tmpTable("detail-flat")
    TableMerge.createOrReplace((0L until 4L).map(i => (i, i)).toDF("id", "v"), flat)
    val e = intercept[Exception](spark.sql(s"SHOW PARTITIONS graft.`$flat`").collect())
    assert(e.getMessage.contains("not partitioned"))
  }

  test("DESCRIBE DETAIL answers from one snapshot while commits land") {
    import spark.implicits._
    val path = tmpTable("detail-race")
    // each commit changes the file count, so a row that mixed the live
    // version of one moment with the manifest of another would show it
    def write(files: Int): Unit = TableMerge.createOrReplace(
      (0L until 16L).map(i => (i, i % 4L)).toDF("id", "g").repartition(files), path)
    write(1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() =>
      while (!stop.get()) { write(1 + commits.getAndIncrement() % 4) })
    writer.start()
    val rows = try (1 to 40).map(_ => spark.sql(s"DESCRIBE DETAIL graft.`$path`").head())
    finally { stop.set(true); writer.join() }
    assert(commits.get() > 1, "the writer must commit while DESCRIBE runs")
    rows.foreach { row =>
      val v = row.getString(2)
      assert(row.getLong(3) == TableMerge.versionManifest(path, v).get.size.toLong,
        s"num_files ${row.getLong(3)} is not the file count of $v")
    }
  }

  test("DESCRIBE HISTORY counts each version's files from its manifest") {
    import spark.implicits._
    val path = tmpTable("history-files")
    def write(): Unit = TableMerge.createOrReplace(
      (0L until 64L).map(i => (i, i % 4L)).toDF("id", "g").repartition(4), path)
    write()
    val first = TableMerge.liveVersion(path).get
    write()
    spark.sql(s"VACUUM graft.`$path` RETAIN 0 HOURS").collect()
    assert(TableMerge.versionManifest(path, first).isEmpty,
      "an expired version has no manifest, so history skips it")
    // a stray parquet file in the live dir, outside any commit
    val tmp = Files.createTempDirectory("graft-history-stray")
    (1000L until 1100L).map(i => (i, 9L)).toDF("id", "g")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.copy(tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(path, TableMerge.liveVersion(path).get)
        .resolve("stray-not-in-manifest.parquet"))
    val numFiles = spark.sql(s"DESCRIBE DETAIL graft.`$path`").head().getLong(3)
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$path`")
      .as[(String, Boolean, Long, String)].collect().toSeq
    assert(numFiles == 4L && hist.map(h => (h._2, h._3)) == Seq((true, numFiles)),
      s"the live row must count the manifest's $numFiles files: $hist")
  }

  test("SQL DML fails on a commit that landed after analysis, and never overwrites it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.CommandExecutionMode
    import graft.operators.CommitConflictException
    val seed: Set[(Long, String, Long)] = Set((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (5L, "q", 50L))
    val api: Set[(Long, String, Long)] = Set((100L, "a", 1000L), (101L, "z", 1010L))
    val update = (p: String) => s"UPDATE graft.`$p` SET v = v * 10 WHERE id < 3"
    val updated = (rs: Set[(Long, String, Long)]) => rs.map { case (i, p, v) => if (i < 3) (i, p, v * 10) else (i, p, v) }
    // (statement, partitioned, sql, what it does to a plain-Scala model)
    val cases: Seq[(String, Boolean, String => String, Set[(Long, String, Long)] => Set[(Long, String, Long)])] = Seq(
      ("update-partitioned", true, update, updated),
      ("update-unpartitioned", false, update, updated),
      ("delete", true, p => s"DELETE FROM graft.`$p` WHERE part = 'a' AND v >= 20",
        _.filterNot { case (_, p, v) => p == "a" && v >= 20 }),
      ("merge", true, p => s"""MERGE INTO graft.`$p` t USING (
           |  SELECT 1L AS id, 'a' AS part, 11L AS v
           |  UNION ALL SELECT 9L AS id, 'b' AS part, 90L AS v) s
           |ON t.id = s.id AND t.part = s.part
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        rs => rs.filterNot(r => r._1 == 1L && r._2 == "a") + ((1L, "a", 11L)) + ((9L, "b", 90L))),
      // positional VALUES follow the read-back order: partition columns last
      ("insert-partitioned", true, p => s"INSERT INTO graft.`$p` VALUES (7, 70, 'a')",
        _ + ((7L, "a", 70L))),
      ("insert-unpartitioned", false, p => s"INSERT INTO graft.`$p` VALUES (7, 'a', 70)",
        _ + ((7L, "a", 70L))))
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cases.foreach { case (name, partitioned, stmt, model) =>
      val parts = if (partitioned) Seq("part") else Seq.empty
      def fresh(tag: String): String = {
        val path = tmpTable(s"$name-$tag")
        TableMerge.createOrReplace(seed.toSeq.toDF("id", "part", "v"), path, partitionCols = parts)
        path
      }
      // with no commit in between, the statement does what it always did
      val plain = fresh("plain")
      spark.sql(stmt(plain))
      assert(rows(plain) == model(seed), s"$name changed its result")
      // analyze against v1, let an API upsert commit v2, then execute
      val path = fresh("raced")
      val qe = cs.sessionState.executePlan(
        cs.sessionState.sqlParser.parsePlan(stmt(path)), CommandExecutionMode.SKIP)
      qe.analyzed
      TableMerge.upsert(spark, path, api.toSeq.toDF("id", "part", "v"),
        keys = Seq("id"), partitionCols = parts)
      intercept[CommitConflictException](qe.executedPlan.executeCollect())
      assert(rows(path) == seed ++ api, s"$name overwrote the concurrent commit")
      // re-run, the statement applies on top of it
      spark.sql(stmt(path))
      assert(rows(path) == model(seed ++ api), s"$name re-run")
      assert(TableMerge.partitionColsOf(path) == parts, s"$name changed the layout")
    }
  }

  test("SQL DML on a row whose partition value is NULL keeps that partition's other rows") {
    import spark.implicits._
    val seed: Set[(Long, String, Long)] = Set((1L, null, 10L), (2L, null, 20L), (3L, "a", 30L), (4L, "b", 40L))
    val cases: Seq[(String, Set[(Long, String, Long)] => Set[(Long, String, Long)])] = Seq(
      ("UPDATE graft.`%s` SET v = v + 1 WHERE id = 1",
        rs => rs - ((1L, null, 10L)) + ((1L, null, 11L))),
      ("UPDATE graft.`%s` SET part = 'c' WHERE id = 1",
        rs => rs - ((1L, null, 10L)) + ((1L, "c", 10L))),
      ("UPDATE graft.`%s` SET part = NULL WHERE id = 3",
        rs => rs - ((3L, "a", 30L)) + ((3L, null, 30L))),
      ("DELETE FROM graft.`%s` WHERE id = 2", _ - ((2L, null, 20L))),
      ("""MERGE INTO graft.`%s` t USING (
         |  SELECT 1L AS id, CAST(NULL AS STRING) AS part, 11L AS v
         |  UNION ALL SELECT 8L AS id, CAST(NULL AS STRING) AS part, 80L AS v) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        rs => rs - ((1L, null, 10L)) + ((1L, null, 11L)) + ((8L, null, 80L))),
      // positional VALUES follow the read-back order: partition columns last
      ("INSERT INTO graft.`%s` VALUES (9, 90, NULL)", _ + ((9L, null, 90L))))
    cases.foreach { case (stmt, model) =>
      val path = tmpTable("null-part")
      TableMerge.createOrReplace(seed.toSeq.toDF("id", "part", "v"), path,
        partitionCols = Seq("part"))
      spark.sql(stmt.format(path))
      val got = TableMerge.read(spark, path).select("id", "part", "v").as[(Long, String, Long)].collect()
      assert(got.length == got.toSet.size && got.toSet == model(seed), stmt)
      assert(TableMerge.partitionColsOf(path) == Seq("part"), stmt)
    }
  }
}
