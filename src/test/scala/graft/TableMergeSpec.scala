package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableMerge

/** K1/K2/K3/K5 — copy-on-write merge engine round-trips: upsert, delete,
  * schema evolution via union-by-name, and the partition-scoped rewrite
  * path (untouched partitions carried over as files, not rewritten).
  */
class TableMergeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def tmpTable(name: String): String = {
    val dir = Files.createTempDirectory(s"graft-merge-$name")
    dir.resolve("t").toString
  }

  test("K3 createOrReplace then read round-trips") {
    import spark.implicits._
    val path = tmpTable("cor")
    TableMerge.createOrReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    assert(TableMerge.read(spark, path).orderBy("id").as[(Int, String)].collect()
      .toSeq == Seq((1, "a"), (2, "b")))
    TableMerge.createOrReplace(Seq((3, "c")).toDF("id", "v"), path)
    assert(TableMerge.read(spark, path).as[(Int, String)].collect().toSeq == Seq((3, "c")))
  }

  test("commit metadata: atomic with the commit, queryable by value, absent on untagged commits") {
    import spark.implicits._
    val path = tmpTable("meta")
    TableMerge.createOrReplace(Seq((1, "a")).toDF("id", "v"), path,
      meta = Map("app.batch" -> "0"))
    assert(TableMerge.commitMeta(path) == Map("app.batch" -> "0"))
    // tagged upsert (flat path): meta rides the new commit, old version keeps its own
    TableMerge.upsert(spark, path, Seq((2, "b")).toDF("id", "v"), Seq("id"),
      meta = Map("app.batch" -> "1", "app.pre" -> TableMerge.versions(path).head))
    assert(TableMerge.commitMeta(path).get("app.batch").contains("1"))
    def findVersionByMeta(key: String, value: String): Option[String] =
      TableMerge.versions(path).find(v => TableMerge.versionMeta(path, v).get(key).contains(value))
    val v1 = findVersionByMeta("app.batch", "1")
    val v0 = findVersionByMeta("app.batch", "0")
    assert(v1.isDefined && v0.isDefined && v1 != v0)
    assert(TableMerge.versionMeta(path, v1.get).get("app.pre") == v0.map(identity))
    // untagged commit: head meta is empty, the tagged versions remain findable
    TableMerge.upsert(spark, path, Seq((3, "c")).toDF("id", "v"), Seq("id"))
    assert(TableMerge.commitMeta(path).isEmpty)
    assert(findVersionByMeta("app.batch", "1") == v1)
    // partition-scoped branch also carries meta
    val ppath = tmpTable("meta-part")
    TableMerge.createOrReplace(Seq((1, "x", "p0")).toDF("id", "v", "p"), ppath, Seq("p"))
    TableMerge.upsert(spark, ppath, Seq((2, "y", "p1")).toDF("id", "v", "p"),
      keys = Seq("p", "id"), partitionCols = Seq("p"), meta = Map("app.batch" -> "7"))
    assert(TableMerge.commitMeta(ppath).get("app.batch").contains("7"))
  }

  test("K1 upsert updates matched keys and inserts new ones") {
    import spark.implicits._
    val path = tmpTable("upsert")
    TableMerge.createOrReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    TableMerge.upsert(spark, path, Seq((2, "B2"), (3, "c")).toDF("id", "v"), Seq("id"))
    val got = TableMerge.read(spark, path).orderBy("id").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "B2"), (3, "c")))
  }

  test("K5 upsert evolves schema with null padding on both sides") {
    import spark.implicits._
    val path = tmpTable("evolve")
    TableMerge.createOrReplace(Seq((1, "a")).toDF("id", "v"), path)
    TableMerge.upsert(spark, path,
      Seq((2, "b", "note")).toDF("id", "v", "extra"), Seq("id"))
    val got = TableMerge.read(spark, path).orderBy("id")
      .select("id", "v", "extra").as[(Int, String, Option[String])].collect().toSeq
    assert(got == Seq((1, "a", None), (2, "b", Some("note"))))
  }

  test("concurrent reader: a snapshot resolved before a merge still reads it after") {
    import spark.implicits._
    val path = tmpTable("snapshot")
    TableMerge.createOrReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    // resolve the live snapshot (pointer read happens here, lazily-planned scan)
    val preMerge = TableMerge.read(spark, path)
    // a full merge cycle commits a NEW version while the reader is in flight
    TableMerge.upsert(spark, path, Seq((2, "B2"), (3, "c")).toDF("id", "v"), Seq("id"))
    // the pre-merge snapshot is immutable and still fully readable —
    // the pre-r5 retire-then-promote swap deleted it out from under us
    assert(preMerge.orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b")))
    // the new resolution sees the merged state
    assert(TableMerge.read(spark, path).orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "B2"), (3, "c")))
  }

  test("version pruning: grace window protects young dirs, ages out unreferenced ones") {
    import spark.implicits._
    val path = tmpTable("prune")
    TableMerge.createOrReplace(Seq((1, "a")).toDF("id", "v"), path)
    TableMerge.upsert(spark, path, Seq((2, "b")).toDF("id", "v"), Seq("id"))
    TableMerge.upsert(spark, path, Seq((3, "c")).toDF("id", "v"), Seq("id"))
    def versionDirs = java.nio.file.Paths.get(path).toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v-"))
    // all three versions young: none pruned (one may be a concurrent
    // writer's merge base — deleting it would turn its CAS conflict
    // into a FileNotFoundException)
    assert(versionDirs.length == 3, s"young versions pruned: ${versionDirs.length}")
    // age everything past the grace window; the next commit prunes all
    // but the live + previous snapshots
    versionDirs.foreach(f => assert(f.setLastModified(
      System.currentTimeMillis() - 20 * 60 * 1000L)))
    TableMerge.upsert(spark, path, Seq((4, "d")).toDF("id", "v"), Seq("id"))
    assert(versionDirs.length == 2, s"expected live+previous, got ${versionDirs.length}")
    assert(TableMerge.read(spark, path).count() == 4)
  }

  test("K2 delete removes only the given keys") {
    import spark.implicits._
    val path = tmpTable("delete")
    TableMerge.createOrReplace(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), path)
    TableMerge.delete(spark, path, Seq(2).toDF("id"), Seq("id"))
    assert(TableMerge.read(spark, path).orderBy("id").as[(Int, String)].collect()
      .toSeq == Seq((1, "a"), (3, "c")))
  }

  test("partition-scoped upsert does not rewrite untouched partitions") {
    import spark.implicits._
    val path = tmpTable("scoped")
    TableMerge.createOrReplace(
      Seq(("p1", 1, "a"), ("p1", 2, "b"), ("p2", 3, "c")).toDF("pt", "id", "v"),
      path, partitionCols = Seq("pt"))

    // record the physical files of the untouched partition inside the
    // LIVE version dir (resolved through the _current pointer)
    def partFiles(p: String): Set[String] = {
      val live = java.nio.file.Paths.get(path,
        java.nio.file.Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
      val dir = live.resolve(s"pt=$p")
      Option(dir.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName + ":" + f.lastModified).toSet
    }
    val p2Before = partFiles("p2")
    assert(p2Before.nonEmpty)

    TableMerge.upsert(spark, path,
      Seq(("p1", 2, "B2"), ("p1", 9, "i")).toDF("pt", "id", "v"),
      keys = Seq("pt", "id"), partitionCols = Seq("pt"))

    // untouched partition p2: identical files (names + mtimes — hard-linked
    // into the new version, not rewritten)
    assert(partFiles("p2") == p2Before)
    val got = TableMerge.read(spark, path).orderBy("id")
      .select("pt", "id", "v").as[(String, Int, String)].collect().toSeq
    assert(got == Seq(("p1", 1, "a"), ("p1", 2, "B2"), ("p2", 3, "c"), ("p1", 9, "i")))
  }

  test("partition-scoped replaceKeys moves a key across partitions; quiet partition keeps inodes") {
    import spark.implicits._
    val path = tmpTable("scoped-move")
    // the ANN-index maintenance shape: id 2 "re-embeds" and moves from
    // partition p0 to p2; p1 is untouched and must be hard-linked
    TableMerge.createOrReplace(
      Seq(("p0", 1, "a"), ("p0", 2, "b"), ("p1", 3, "c")).toDF("pt", "id", "v"),
      path, partitionCols = Seq("pt"))
    def live = java.nio.file.Paths.get(path).resolve(
      Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    def inodes(p: String): Set[Long] =
      Option(live.resolve(s"pt=$p").toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    val quietBefore = inodes("p1")
    assert(quietBefore.nonEmpty)
    // drop old position (p0,2) and new position (p2,2), insert the moved row
    TableMerge.replaceKeys(spark, path,
      source = Seq(("p2", 2, "B2")).toDF("pt", "id", "v"),
      dropGroups = Seq(("p0", 2), ("p2", 2)).toDF("pt", "id"),
      groupKeys = Seq("pt", "id"), partitionCols = Seq("pt"))
    assert(inodes("p1") == quietBefore, "quiet partition rewritten by scoped replaceKeys")
    val got = TableMerge.read(spark, path).select("pt", "id", "v")
      .as[(String, Int, String)].collect().toSet
    assert(got == Set(("p0", 1, "a"), ("p2", 2, "B2"), ("p1", 3, "c")))
    // the moved key exists ONLY at its new position — no stale row in p0
    assert(TableMerge.read(spark, path).filter($"id" === 2).count() == 1)
  }

  /** Inodes of the parquet files under `partDir` of the live version. */
  private def liveInodes(path: String, partDir: String): Set[Long] = {
    val live = java.nio.file.Paths.get(path).resolve(
      Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    Option(live.resolve(partDir).toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
  }

  test("replaceKeys replaces each key's row set: stale rows go, an empty new set clears the key") {
    import spark.implicits._
    val path = tmpTable("set-replace")
    // a print-set index: each (bucket, doc_id) owns a SET of hashes
    TableMerge.createOrReplace(
      Seq((0, 1L, 10L), (0, 1L, 11L), (0, 1L, 12L), (1, 2L, 20L), (1, 2L, 21L), (1, 3L, 30L))
        .toDF("bucket", "doc_id", "h"), path, Seq("bucket"))
    // doc 1 is re-scraped to a smaller, partly new set; doc 2 to a text
    // too short to carry any print (dropped, nothing inserted)
    TableMerge.replaceKeys(spark, path,
      source = Seq((0, 1L, 11L), (0, 1L, 13L)).toDF("bucket", "doc_id", "h"),
      dropGroups = Seq((0, 1L), (1, 2L)).toDF("bucket", "doc_id"),
      groupKeys = Seq("bucket", "doc_id"), partitionCols = Seq("bucket"))
    val got = TableMerge.read(spark, path).select("bucket", "doc_id", "h")
      .as[(Int, Long, Long)].collect().toSet
    assert(got == Set((0, 1L, 11L), (0, 1L, 13L), (1, 3L, 30L)))
  }

  test("quiet buckets keep their inodes over repeated scoped merges") {
    import spark.implicits._
    val path = tmpTable("quiet-repeat")
    TableMerge.createOrReplace(
      (0 until 4).flatMap(b => (1 to 3).map(i => (b, b * 10L + i, s"v$i")))
        .toDF("bucket", "id", "v"), path, Seq("bucket"))
    val untouched = liveInodes(path, "bucket=3")
    assert(untouched.nonEmpty)
    // round r rewrites bucket r only; every earlier bucket is carried
    val rewritten = (0 until 3).map { r =>
      val before = liveInodes(path, s"bucket=$r")
      TableMerge.upsert(spark, path, Seq((r, r * 10L + 1, s"r$r")).toDF("bucket", "id", "v"),
        keys = Seq("bucket", "id"), partitionCols = Seq("bucket"))
      val after = liveInodes(path, s"bucket=$r")
      assert(after.nonEmpty && after != before, s"round $r did not rewrite bucket $r")
      after
    }
    rewritten.zipWithIndex.foreach { case (ino, b) =>
      assert(liveInodes(path, s"bucket=$b") == ino, s"bucket $b rewritten after its round")
    }
    assert(liveInodes(path, "bucket=3") == untouched, "never-touched bucket rewritten")
    val got = TableMerge.read(spark, path).select("bucket", "id", "v")
      .as[(Int, Long, String)].collect().toSet
    assert(got.size == 12)
    assert((0 until 3).forall(r => got.contains((r, r * 10L + 1, s"r$r"))))
  }

  test("upsert on a missing table creates it") {
    import spark.implicits._
    val path = tmpTable("create-on-merge")
    TableMerge.upsert(spark, path, Seq((1, "a")).toDF("id", "v"), Seq("id"))
    assert(TableMerge.read(spark, path).count() == 1)
  }

  test("upsert with an empty source leaves the table intact") {
    import spark.implicits._
    val path = tmpTable("empty-source")
    TableMerge.createOrReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    TableMerge.upsert(spark, path,
      Seq.empty[(Int, String)].toDF("id", "v"), Seq("id"))
    assert(TableMerge.read(spark, path).orderBy("id").as[(Int, String)].collect()
      .toSeq == Seq((1, "a"), (2, "b")))
  }

  test("duplicate source keys collapse to one row before merging") {
    import spark.implicits._
    val path = tmpTable("dup-keys")
    TableMerge.createOrReplace(Seq((1, "a")).toDF("id", "v"), path)
    TableMerge.upsert(spark, path,
      Seq((1, "x"), (1, "y"), (2, "c")).toDF("id", "v"), Seq("id"))
    val got = TableMerge.read(spark, path)
    assert(got.count() == 2) // one row per key, never both dup variants
    assert(got.filter($"id" === 1).count() == 1)
  }

  test("delete on a missing table is a no-op; delete-all empties the table") {
    import spark.implicits._
    val path = tmpTable("delete-missing")
    TableMerge.delete(spark, path, Seq(1).toDF("id"), Seq("id")) // no throw
    assert(!TableMerge.exists(path))

    TableMerge.createOrReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    TableMerge.delete(spark, path, Seq(1, 2).toDF("id"), Seq("id"))
    assert(TableMerge.read(spark, path).count() == 0)
  }

  test("compact rewrites only overflowing partitions; data and quiet partitions intact") {
    import spark.implicits._
    val path = tmpTable("compact")
    // bucket=0: 39 rows spread round-robin over 6 tasks → ~6 files;
    // bucket=1: one row → one file (stays under maxFiles)
    val df = ((1 to 39).map(i => (i.toLong, 0, s"v$i")) :+ (100L, 1, "solo"))
      .toDF("id", "bucket", "v")
    TableMerge.createOrReplace(df.repartition(6), path, Seq("bucket"))
    def live = java.nio.file.Paths.get(path).resolve(
      Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    def parquetFiles(bucket: Int) =
      Option(live.resolve(s"bucket=$bucket").toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
    def inodes(bucket: Int) = parquetFiles(bucket).map(f =>
      Files.getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toSet
    assert(parquetFiles(0).length > 2, s"fixture not fragmented: ${parquetFiles(0).length}")
    assert(parquetFiles(1).length == 1)
    val quietBefore = inodes(1)
    TableMerge.compact(spark, path, Seq("bucket"), maxFiles = 2)
    assert(parquetFiles(0).length == 1, s"not compacted: ${parquetFiles(0).length} files")
    assert(inodes(1) == quietBefore, "quiet partition rewritten by compaction")
    val got = TableMerge.read(spark, path).select("id", "bucket", "v")
      .as[(Long, Int, String)].collect().toSet
    assert(got == df.select("id", "bucket", "v").as[(Long, Int, String)].collect().toSet)
    // under the threshold now: a second compact is a no-op commit-wise
    val pointer = Files.readString(java.nio.file.Paths.get(path, "_current"))
    TableMerge.compact(spark, path, Seq("bucket"), maxFiles = 2)
    assert(Files.readString(java.nio.file.Paths.get(path, "_current")) == pointer)
  }

  test("concurrent upserts serialize via CAS commits — no lost update") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = tmpTable("concurrent")
    TableMerge.createOrReplace(Seq((0, "seed")).toDF("id", "v"), path)
    // two writers race on DISJOINT key ranges, several rounds each: with
    // last-writer-wins pointer swaps (the pre-CAS protocol) one side's
    // rows vanish; with CAS commits the loser replays onto the winner's
    // snapshot and every round survives
    val writers = Seq("A" -> 100, "B" -> 200).map { case (tag, keyBase) =>
      Future {
        for (round <- 1 to 3)
          TableMerge.upsert(spark, path,
            (0 until 5).map(i => (keyBase + i, s"$tag$round")).toDF("id", "v"),
            keys = Seq("id"))
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val got = TableMerge.read(spark, path).as[(Int, String)].collect().toMap
    assert(got(0) == "seed")
    for (i <- 0 until 5) {
      assert(got.get(100 + i).contains("A3"), s"lost update: key ${100 + i} -> ${got.get(100 + i)}")
      assert(got.get(200 + i).contains("B3"), s"lost update: key ${200 + i} -> ${got.get(200 + i)}")
    }
    assert(got.size == 11)
  }

  test("time travel: retained snapshots stay readable; expire keeps the live version") {
    import spark.implicits._
    val path = tmpTable("timetravel")
    TableMerge.createOrReplace(Seq((1, "a")).toDF("id", "v"), path)
    TableMerge.upsert(spark, path, Seq((2, "b")).toDF("id", "v"), Seq("id"))
    TableMerge.upsert(spark, path, Seq((1, "a2")).toDF("id", "v"), Seq("id"))
    val vs = TableMerge.versions(path)
    assert(vs.length == 3, s"expected 3 retained versions, got $vs")
    // newest first: head is live (3 rows? no — latest has 2 rows with a2)
    assert(TableMerge.readVersion(spark, path, vs.head)
      .orderBy("id").as[(Int, String)].collect().toSeq == Seq((1, "a2"), (2, "b")))
    assert(TableMerge.readVersion(spark, path, vs.last)
      .as[(Int, String)].collect().toSeq == Seq((1, "a")))
    // expire everything unreferenced regardless of age: live survives
    val removed = TableMerge.expireVersions(path, olderThanMs = 0)
    assert(removed == 2)
    assert(TableMerge.versions(path) == Seq(vs.head))
    assert(TableMerge.read(spark, path).count() == 2)
    intercept[IllegalArgumentException] {
      TableMerge.readVersion(spark, path, vs.last)
    }
  }

  test("staging dirs are invisible to time travel and survive expiry") {
    import spark.implicits._
    val path = tmpTable("staging")
    TableMerge.createOrReplace(Seq((1, "a")).toDF("id", "v"), path)
    // fake another writer's in-flight staging: a v- dir with no commit
    // marker, aged past any expiry cutoff
    val staging = java.nio.file.Paths.get(path, s"v-${System.nanoTime()}")
    Files.createDirectories(staging)
    Files.setLastModifiedTime(staging,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000))
    val vs = TableMerge.versions(path)
    assert(vs.length == 1 && !vs.contains(staging.getFileName.toString),
      s"staging dir leaked into versions(): $vs")
    intercept[IllegalArgumentException] {
      TableMerge.readVersion(spark, path, staging.getFileName.toString)
    }
    // expiry must not delete it either — the writer may still be writing
    assert(TableMerge.expireVersions(path, olderThanMs = 0) == 0)
    assert(Files.exists(staging), "expireVersions deleted an in-flight staging dir")
  }

  test("a leftover commit lock does not masquerade as legacy table content") {
    import spark.implicits._
    val path = tmpTable("lock-not-content")
    // crashed bootstrap: table dir holds ONLY a stale lock, no data
    Files.createDirectories(java.nio.file.Paths.get(path))
    val lock = java.nio.file.Paths.get(path, "_commit.lock")
    Files.write(lock, "dead".getBytes)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000))
    assert(!TableMerge.exists(path), "_commit.lock counted as table content")
    // bootstrap proceeds normally (steals the stale lock at commit)
    TableMerge.upsert(spark, path, Seq((1, "a")).toDF("id", "v"), Seq("id"))
    assert(TableMerge.read(spark, path).count() == 1)
  }

  test("randomized upsert/delete sequences match an in-memory model") {
    import spark.implicits._
    // seeded model-based check over the partition-scoped merge path:
    // whatever interleaving of upserts and deletes runs, the table must
    // equal the naive map fold of the same operations
    val rnd = new scala.util.Random(20260812L)
    val path = tmpTable("model")
    val model = scala.collection.mutable.Map[Int, (String, Int)]()
    for (step <- 1 to 10) {
      if (rnd.nextInt(3) < 2 || model.isEmpty) {
        val rows = (1 to 1 + rnd.nextInt(8)).map { _ =>
          val id = rnd.nextInt(30); (id, s"v$step-${rnd.nextInt(100)}", id % 3)
        }.groupBy(_._1).map(_._2.head).toSeq // unique keys per batch
        TableMerge.upsert(spark, path, rows.toDF("id", "v", "p"),
          keys = Seq("p", "id"), partitionCols = Seq("p"))
        rows.foreach { case (id, v, p) => model(id) = (v, p) }
      } else {
        val ids = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(3))
        TableMerge.delete(spark, path, ids.map(i => (i % 3, i)).toDF("p", "id"),
          keys = Seq("p", "id"), partitionCols = Seq("p"))
        ids.foreach(model.remove)
      }
    }
    val got = TableMerge.read(spark, path).select("id", "v", "p")
      .as[(Int, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == model.toMap)
  }

  test("compaction racing upserts loses cleanly — no data loss either way") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = tmpTable("compact-race")
    val seed = (1 to 30).map(i => (i.toLong, i % 2, "seed"))
    TableMerge.createOrReplace(seed.toDF("id", "bucket", "v").repartition(6), path, Seq("bucket"))
    val writer = Future {
      for (round <- 1 to 3)
        TableMerge.upsert(spark, path,
          (31 to 35).map(i => (i.toLong, i % 2, s"w$round")).toDF("id", "bucket", "v"),
          keys = Seq("bucket", "id"), partitionCols = Seq("bucket"))
    }
    val compactor = Future {
      for (_ <- 1 to 3)
        TableMerge.compact(spark, path, Seq("bucket"), maxFiles = 1)
    }
    Await.result(Future.sequence(Seq(writer, compactor)), 120.seconds)
    val got = TableMerge.read(spark, path).select("id", "v")
      .as[(Long, String)].collect().toMap
    (1 to 30).foreach(i => assert(got(i.toLong) == "seed", s"lost seed row $i"))
    (31 to 35).foreach(i => assert(got(i.toLong) == "w3", s"lost upsert row $i"))
    assert(got.size == 35)
  }

  test("a stale crashed-writer lock is stolen, not deadlocked") {
    import spark.implicits._
    val path = tmpTable("stale-lock")
    TableMerge.createOrReplace(Seq((1, "a")).toDF("id", "v"), path)
    // fake a crashed writer: lock file whose mtime is past the staleness window
    val lock = java.nio.file.Paths.get(path, "_commit.lock")
    Files.write(lock, "dead".getBytes)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000))
    TableMerge.upsert(spark, path, Seq((2, "b")).toDF("id", "v"), Seq("id"))
    assert(TableMerge.read(spark, path).count() == 2)
    assert(!Files.exists(lock), "lock not released after commit")
  }

  test("zorder rejects partition columns as z-columns up front") {
    import spark.implicits._
    val path = tmpTable("zpartcol")
    TableMerge.createOrReplace(
      (0L until 64L).map(i => (i, i % 4L, s"p${i % 2}")).toDF("id", "x", "part"),
      path, partitionCols = Seq("part"))
    val before = TableMerge.versions(path)
    val e = intercept[IllegalArgumentException](
      TableMerge.zorder(spark, path, "part", "x"))
    assert(e.getMessage.contains("partition column"))
    // case-differing spelling of the partition column is rejected too
    intercept[IllegalArgumentException](TableMerge.zorder(spark, path, "x", "PART"))
    assert(TableMerge.versions(path) == before,
      "rejected zorder must not leave a staged or committed version behind")
  }

  test("cloneTable refuses overlapping source/dest paths") {
    import spark.implicits._
    val path = tmpTable("cloneguard")
    TableMerge.createOrReplace(Seq((1L, "a")).toDF("id", "v"), path)
    intercept[IllegalArgumentException](TableMerge.cloneTable(path, path))
    intercept[IllegalArgumentException](
      TableMerge.cloneTable(path, java.nio.file.Paths.get(path, "inner").toString))
    intercept[IllegalArgumentException](
      TableMerge.cloneTable(path, java.nio.file.Paths.get(path).getParent.toString))
    // the source table is untouched by all three rejections
    assert(TableMerge.read(spark, path).count() == 1L)
  }

  test("scoped merge past the partition threshold falls back to a full restatement") {
    import spark.implicits._
    val path = tmpTable("scope-cap")
    val prop = "graft.merge.maxScopedPartitions"
    TableMerge.createOrReplace(
      (0L until 40L).map(i => (i, i % 8L, "seed")).toDF("id", "bucket", "v"),
      path, partitionCols = Seq("bucket"))
    sys.props(prop) = "4"
    try {
      // touches all 8 partitions > cap 4 → unscoped rewrite, recorded in meta
      TableMerge.upsert(spark, path,
        (0L until 8L).map(i => (i, i % 8L, "upd")).toDF("id", "bucket", "v"),
        keys = Seq("bucket", "id"), partitionCols = Seq("bucket"))
      val meta = TableMerge.commitMeta(path)
      assert(meta.get(TableMerge.ScopeFallbackKey).exists(_.contains("touched=8")),
        s"fallback decision must land in commit metadata, got $meta")
      val got = TableMerge.read(spark, path).select("id", "v").as[(Long, String)]
        .collect().toMap
      assert(got.size == 40 && (0L until 8L).forall(got(_) == "upd") &&
        (8L until 40L).forall(got(_) == "seed"))
      // under the cap: scoped path, no fallback marker
      TableMerge.upsert(spark, path,
        Seq((100L, 0L, "new")).toDF("id", "bucket", "v"),
        keys = Seq("bucket", "id"), partitionCols = Seq("bucket"))
      assert(!TableMerge.commitMeta(path).contains(TableMerge.ScopeFallbackKey))
      // replaceKeys takes the same guard
      TableMerge.replaceKeys(spark, path,
        (0L until 8L).map(i => (i + 200L, i % 8L, "r")).toDF("id", "bucket", "v"),
        dropGroups = (0L until 8L).map(i => (i, i % 8L)).toDF("id", "bucket")
          .select("bucket", "id"),
        groupKeys = Seq("bucket", "id"), partitionCols = Seq("bucket"))
      assert(TableMerge.commitMeta(path).get(TableMerge.ScopeFallbackKey)
        .exists(_.contains("max=4")))
      assert(TableMerge.read(spark, path).filter(col("v") === "r").count() == 8L)
      assert(TableMerge.read(spark, path).filter(col("id") < 8L).count() == 0L)
    } finally { sys.props.remove(prop); () }
  }

  /** Data files of the live snapshot, as its manifest lists them. */
  private def liveFiles(path: String): Int = TableMerge.manifest(path).get.size

  private def rowsOf(path: String): Seq[(Int, String)] = {
    import spark.implicits._
    TableMerge.read(spark, path).select("id", "v").as[(Int, String)].collect().toSeq.sorted
  }

  test("unpartitioned restatements of a small table commit one file; compaction finds nothing") {
    import spark.implicits._
    val path = tmpTable("sized")
    // createOrReplace is not a restatement: it keeps the frame's partitioning
    TableMerge.createOrReplace((1 to 200).map(i => (i, s"v$i")).toDF("id", "v").repartition(4), path)
    assert(liveFiles(path) == 4)
    var model = (1 to 200).map(i => i -> s"v$i").toMap

    TableMerge.upsert(spark, path,
      Seq((1, "u"), (500, "n"), (501, "n")).toDF("id", "v").repartition(3), Seq("id"))
    model ++= Seq(1 -> "u", 500 -> "n", 501 -> "n")
    assert(liveFiles(path) == 1)
    assert(rowsOf(path) == model.toSeq.sorted)
    assert(TableMerge.compact(spark, path, Seq.empty, maxFiles = 1) == 0)

    TableMerge.replaceKeys(spark, path,
      Seq((2, "r"), (600, "r")).toDF("id", "v").repartition(3),
      dropGroups = Seq(2, 3, 4).toDF("id"), groupKeys = Seq("id"))
    model = model -- Seq(2, 3, 4) ++ Seq(2 -> "r", 600 -> "r")
    assert(liveFiles(path) == 1)
    assert(rowsOf(path) == model.toSeq.sorted)
    assert(TableMerge.compact(spark, path, Seq.empty, maxFiles = 1) == 0)

    TableMerge.delete(spark, path, Seq(5, 6).toDF("id"), Seq("id"))
    model = model -- Seq(5, 6)
    assert(liveFiles(path) == 1)
    assert(rowsOf(path) == model.toSeq.sorted)

    TableMerge.restate(spark, path,
      model.toSeq.toDF("id", "v").repartition(4))
    assert(liveFiles(path) == 1)
    assert(rowsOf(path) == model.toSeq.sorted)

    // a bootstrap restatement is sized from its source alone
    val fresh = tmpTable("sized-bootstrap")
    TableMerge.replaceKeys(spark, fresh, Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(3),
      dropGroups = Seq(1).toDF("id"), groupKeys = Seq("id"))
    assert(liveFiles(fresh) == 1)
    assert(rowsOf(fresh) == Seq((1, "a"), (2, "b")))
  }

  test("a restatement larger than spark.sql.files.maxPartitionBytes writes several files") {
    import spark.implicits._
    val path = tmpTable("sized-large")
    val seed = (1 to 3000).map(i => (i, s"value-$i-" + "x" * (i % 50)))
    TableMerge.createOrReplace(seed.toDF("id", "v").repartition(6), path)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "8192")
    try {
      TableMerge.upsert(spark, path,
        (1 to 30).map(i => (i, "u")).toDF("id", "v").repartition(3), Seq("id"))
      assert(liveFiles(path) > 1, "an estimate of several maxPartitionBytes must not collapse to one file")
      assert(rowsOf(path) ==
        (seed.toMap ++ (1 to 30).map(_ -> "u")).toSeq.sorted)
    } finally spark.conf.set(key, saved)
  }

  test("a source of unknown size keeps its partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("v", StringType)))
    // a DataFrame over an RDD that was never materialized has no plan statistics
    def unsized(rows: Seq[(Int, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 3), schema)
    val path = tmpTable("unsized")
    val first = (1 to 30).map(i => (i, s"v$i"))
    TableMerge.replaceKeys(spark, path, unsized(first),
      dropGroups = Seq(1).toDF("id"), groupKeys = Seq("id"))
    assert(liveFiles(path) == 3)
    assert(rowsOf(path) == first)
    TableMerge.replaceKeys(spark, path, unsized((1 to 3).map(i => (i, "r"))),
      dropGroups = Seq(1, 2, 3).toDF("id"), groupKeys = Seq("id"))
    assert(liveFiles(path) >= 3)
    assert(rowsOf(path) == ((1 to 3).map(i => (i, "r")) ++ first.drop(3)).sorted)
  }

  test("a carried file keeps its checksum sidecar, so a corrupted carried file fails to read") {
    import spark.implicits._
    val path = tmpTable("crc")
    TableMerge.createOrReplace((1 to 200).map(i => (s"p${i % 2}", i, s"v$i")).toDF("pt", "id", "v"),
      path, partitionCols = Seq("pt"))
    // a scoped upsert into p0 carries p1's files into the new version
    TableMerge.upsert(spark, path, Seq(("p0", 2, "B")).toDF("pt", "id", "v"),
      keys = Seq("pt", "id"), partitionCols = Seq("pt"))
    val live = java.nio.file.Paths.get(path, Files.readString(java.nio.file.Paths.get(path, "_current")).trim)
    val carried = live.resolve("pt=p1").toFile.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(carried.nonEmpty)
    carried.foreach(f => assert(new java.io.File(f.getParentFile, s".${f.getName}.crc").isFile, f))
    // flip one byte of the first data page of a carried file
    val raf = new java.io.RandomAccessFile(carried.head, "rw")
    try { raf.seek(8); val b = raf.read(); raf.seek(8); raf.write(b ^ 0xff) } finally raf.close()
    val e = intercept[Exception](TableMerge.read(spark, path).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }

  test("the session's file: filesystem sets permissions in-process and keeps checksums") {
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.{LocalFileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    val dir = Files.createTempDirectory("graft-fs")
    // Hadoop caches filesystems by scheme and user, not by conf: check
    // what the session's own conf resolves for a file: path
    val fs = new Path(dir.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[GraftLocalFileSystem.Raw])
    val f = new Path(dir.resolve("x").toUri)
    fs.create(f).close()
    assert(Files.exists(dir.resolve(".x.crc")))
    fs.setPermission(f, new FsPermission("640"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("x"))) ==
      "rw-r-----")
  }

  test("a null partition value: scoped API merges match keys by equality and keep the null partition") {
    import spark.implicits._
    val seed: Set[(Long, String, Long)] = Set((1L, null, 10L), (2L, null, 20L), (3L, "a", 30L), (4L, "b", 40L))
    // (op, what it does to a plain-Scala model): a key holding a null
    // matches no row, as MERGE INTO's ON equality does
    val ops: Seq[(String, (String, Seq[String]) => Unit, Set[(Long, String, Long)] => Set[(Long, String, Long)])] = Seq(
      ("delete", (path, parts) => TableMerge.delete(spark, path,
        Seq[(Long, String)]((1L, null), (3L, "a")).toDF("id", "part"), Seq("id", "part"), parts),
        _ - ((3L, "a", 30L))),
      ("upsert", (path, parts) => TableMerge.upsert(spark, path,
        Seq[(Long, String, Long)]((2L, null, 200L), (4L, "b", 400L), (5L, null, 50L)).toDF("id", "part", "v"),
        keys = Seq("id", "part"), partitionCols = parts),
        rs => rs - ((4L, "b", 40L)) + ((4L, "b", 400L)) + ((2L, null, 200L)) + ((5L, null, 50L))),
      ("replaceKeys", (path, parts) => TableMerge.replaceKeys(spark, path,
        Seq[(Long, String, Long)]((6L, "a", 60L), (7L, null, 70L)).toDF("id", "part", "v"),
        Seq[String](null, "a").toDF("part"), Seq("part"), parts),
        rs => rs - ((3L, "a", 30L)) + ((6L, "a", 60L)) + ((7L, null, 70L))))
    ops.foreach { case (name, op, model) =>
      // partitioned, the commit is partition-scoped; unpartitioned, it
      // restates the table: both must give the model's rows
      Seq(Seq("part"), Seq.empty[String]).foreach { parts =>
        val path = tmpTable(s"null-part-$name")
        TableMerge.createOrReplace(seed.toSeq.toDF("id", "part", "v"), path, partitionCols = parts)
        op(path, parts)
        val got = TableMerge.read(spark, path).select("id", "part", "v").as[(Long, String, Long)].collect()
        assert(got.length == got.toSet.size && got.toSet == model(seed), s"$name on $parts")
        assert(TableMerge.partitionColsOf(path) == parts, s"$name on $parts changed the layout")
      }
    }
  }
}
