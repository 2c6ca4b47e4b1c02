package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gold.GoldAnalytics
import graft.operators.TableMerge
import graft.silver.SilverPipeline

/** Steady-state codegen: once warm, a repeated silver → gold → commit
  * cycle compiles nothing, and neither does a read re-run with new keys. Spark keeps compiled classes in one JVM-wide
  * LRU (`spark.sql.codegen.cache.maxEntries`, sized by
  * [[GraftSession.CodegenCacheEntries]]); a cycle whose working set
  * outgrows it hits 0% and recompiles every class on every cycle, which
  * cost the medallion op ~25% of its CPU. A plan change that pushes the
  * working set past the cache turns this red. A filter constant inlined
  * into generated code makes each new key a new class; the read case
  * turns red if one is.
  */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated silver → gold → createOrReplace cycle compiles nothing") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val dir = Files.createTempDirectory("graft-codegen")
    val cfg = SilverPipeline.Config(dir.resolve("resources").toString,
      dir.resolve("chunks").toString, chunkMax = 200, chunkMin = 40, chunkOverlap = 40)
    // every round re-sends the same four resources with newer content, so
    // each incremental round takes the same CDC, upsert and resync path
    def bronze(round: Int): DataFrame =
      (1 to 4).map { i =>
        (s"r$i", if (i % 2 == 0) "openstax" else "mit_ocw", s"https://x/$i",
          s"Title $i round $round", "d" * 100, if (i % 2 == 0) "vi" else "en",
          s"Round $round text about topic $i, long enough to chunk. " * 12)
      }.toDF("resource_id", "source", "url", "title", "description", "language", "text")
        .withColumn("scraped_at", to_timestamp(lit(f"2026-01-${round + 1}%02d 00:00:00")))
    def cycle(round: Int): Unit = {
      val stats = SilverPipeline.run(spark, bronze(round), cfg)
      assert(stats.changed == 4)
      val resources = TableMerge.read(spark, cfg.resourcesPath)
      val chunks = TableMerge.read(spark, cfg.chunksPath)
      val subjects = Seq((1, "topic")).toDF("subject_id", "subject_name")
      val matches = resources.select(col("resource_uid"), lit(1).as("subject_id"),
        lit(0.9).as("similarity"))
      GoldAnalytics.buildAll(spark, resources, chunks, subjects, matches,
          resources.select(to_date(col("scraped_at")).as("dt")))
        .foreach { case (name, df) =>
          TableMerge.createOrReplace(df, dir.resolve(s"gold/$name").toString)
        }
    }
    cycle(0) // bootstrap: no CDC join yet
    // Spark does not generate every stage the same way from run to run
    // (inferred null filters, for one, change order), so the first warm
    // cycles can still meet a new spelling of a cached class; a
    // thrashing cache instead recompiles dozens of classes on every
    // cycle. Warm cycles run until one compiles nothing, at most eight.
    val perCycle = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (perCycle.size < 8 && !perCycle.lastOption.contains(0L)) {
      val before = compilations
      cycle(perCycle.size + 1)
      perCycle += compilations - before
    }
    assert(perCycle.last == 0L,
      s"warm cycles compiled ${perCycle.mkString(", ")} classes: the cycle's " +
        "working set outgrew the codegen cache")
  }

  test("the live codegen cache holds more classes than Spark's default 100") {
    import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.LongType
    // Spark sizes its JVM-wide cache once, from the conf in force when its
    // code generator first loads: the conf key above can read 1000 while
    // the live cache holds 100, if anything generated code before the
    // session existed. So measure the live bound: 150 distinct classes
    // (each inlines its own constant), then the first one again.
    spark.conf.get("spark.sql.codegen.cache.maxEntries")
    def generate(i: Int): Unit =
      GenerateUnsafeProjection.generate(Seq(
        Add(BoundReference(0, LongType, nullable = false), Literal(7919000003L + i)))): Unit
    val before = compilations
    (0 until 150).foreach(generate)
    assert(compilations - before >= 150L, "each class must be a fresh compile")
    val warm = compilations
    generate(0)
    assert(compilations == warm,
      "the first of 150 classes was evicted: the live codegen cache holds " +
        s"fewer than ${GraftSession.CodegenCacheEntries} entries")
  }

  test("a graft-table read re-run with fresh keys compiles nothing after its first run") {
    import spark.implicits._
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    // every k in 0..499 six times, every day of 60 fifty times
    val rows = (0 until 3000).map(i => (i.toLong, i * 419L % 500, day0.plusDays(i % 60), i % 97))
    val path = Files.createTempDirectory("graft-codegen-reads").resolve("t").toString
    TableMerge.createOrReplace(rows.toDF("id", "k", "d", "v"), path)
    val from = s"SELECT count(*), sum(v) FROM graft.`$path` WHERE"
    def expect(p: ((Long, Long, java.time.LocalDate, Int)) => Boolean): (Long, Long) = {
      val hit = rows.filter(p)
      (hit.size.toLong, hit.map(_._4.toLong).sum)
    }
    // each template maps a draw to its SQL and its plain-Scala answer
    val templates: Seq[(String, Int => (String, (Long, Long)))] = Seq(
      "BETWEEN" -> { i =>
        val a = 40L * i + 3
        (s"$from k BETWEEN $a AND ${a + 9}", expect(r => r._2 >= a && r._2 <= a + 9))
      },
      "IN" -> { i =>
        val keys = (0 until 8).map(j => (31L * i + 53L * j) % 500)
        (s"$from k IN (${keys.mkString(", ")})", expect(r => keys.contains(r._2)))
      },
      "date range" -> { i =>
        val (lo, hi) = (day0.plusDays(3L * i), day0.plusDays(3L * i + 10))
        (s"$from d >= DATE'$lo' AND d < DATE'$hi'",
          expect(r => !r._3.isBefore(lo) && r._3.isBefore(hi)))
      })
    templates.foreach { case (name, draw) =>
      def run(i: Int): Unit = {
        val (q, want) = draw(i)
        val got = spark.sql(q).head()
        assert((got.getLong(0), got.getLong(1)) == want, q)
      }
      run(0)
      val before = compilations
      (1 to 3).foreach(run)
      assert(compilations - before == 0L,
        s"$name: a re-run with new keys compiled ${compilations - before} classes")
    }
  }
}
