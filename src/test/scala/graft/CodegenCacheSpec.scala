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
  * cycle compiles nothing. Spark keeps compiled classes in one JVM-wide
  * LRU (`spark.sql.codegen.cache.maxEntries`, sized by
  * [[GraftSession.CodegenCacheEntries]]); a cycle whose working set
  * outgrows it hits 0% and recompiles every class on every cycle, which
  * cost the medallion op ~25% of its CPU. A plan change that pushes the
  * working set past the cache turns this red.
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
}
