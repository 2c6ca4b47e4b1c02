package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableMerge
import graft.silver.SilverPipeline
import graft.silver.SilverPipeline.Config

/** End-to-end silver lifecycle: first run materializes resources +
  * chunks; an identical re-run detects zero changes and rewrites
  * nothing; an updated record flows through CDC, replaces its chunks,
  * and leaves the rest untouched.
  */
class SilverPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def bronzeDf(rows: Seq[(String, String, String, String, String, String, String)]) = {
    import spark.implicits._
    rows.toDF("resource_id", "source", "url", "title", "description", "language", "text")
      .withColumn("scraped_at", to_timestamp(lit("2026-01-01 00:00:00")))
  }

  private def freshCfg(): Config = {
    val dir = Files.createTempDirectory("graft-silver")
    Config(dir.resolve("resources").toString, dir.resolve("chunks").toString,
      chunkMax = 200, chunkMin = 40, chunkOverlap = 40)
  }

  private val doc1 = ("r1", "mit_ocw", "https://x/1", "Algorithms",
    "d" * 100, "English", "Sentence about sorting and searching. " * 20)
  private val doc2 = ("r2", "openstax", "https://x/2", "Biology",
    "d" * 100, "vi", "Cells and organisms explained at length. " * 20)

  /** Run `bronze` through silver and check its RunStats against the
    * count() actions the run used to take: a count of the CDC frame
    * (taken here, before the run) and of the chunk table after it. */
  private def runCounted(bronze: org.apache.spark.sql.DataFrame,
                         cfg: Config): SilverPipeline.RunStats = {
    val changedBefore = SilverPipeline.detectChanges(spark,
      SilverPipeline.dedupLatest(SilverPipeline.normalize(bronze)), cfg.resourcesPath).count()
    val stats = SilverPipeline.run(spark, bronze, cfg)
    assert(stats.changed == changedBefore)
    assert(stats.chunksWritten == TableMerge.read(spark, cfg.chunksPath).count())
    stats
  }

  test("RunStats counts equal the count()-based values on every branch") {
    val cfg = freshCfg()
    val first = runCounted(bronzeDf(Seq(doc1, doc2)), cfg)
    assert(first.changed == 2 && first.chunksWritten > 0)
    val rerun = runCounted(bronzeDf(Seq(doc1, doc2)), cfg)
    assert(rerun.changed == 0 && rerun.chunksWritten == first.chunksWritten)
    val update = runCounted(
      bronzeDf(Seq(doc1.copy(_7 = "Completely new content about graphs. " * 30)))
        .withColumn("scraped_at", to_timestamp(lit("2026-03-01 00:00:00"))), cfg)
    assert(update.changed == 1)

    // a zero-change FIRST run creates empty tables
    val emptyCfg = freshCfg()
    val empty = runCounted(bronzeDf(Seq.empty), emptyCfg)
    assert(empty.bronzeRows == 0 && empty.changed == 0 && empty.chunksWritten == 0)
    assert(TableMerge.exists(emptyCfg.resourcesPath) && TableMerge.exists(emptyCfg.chunksPath))
  }

  test("first run materializes resources and chunks; re-run is a no-op") {
    val cfg = freshCfg()
    val stats1 = SilverPipeline.run(spark, bronzeDf(Seq(doc1, doc2)), cfg)
    assert(stats1.bronzeRows == 2 && stats1.deduped == 2 && stats1.changed == 2)
    assert(stats1.chunksWritten > 0)

    val resources = TableMerge.read(spark, cfg.resourcesPath)
    assert(resources.count() == 2)
    assert(resources.select("language").as[String](spark.implicits.newStringEncoder)
      .collect().toSet == Set("en", "vi"))

    // identical batch: CDC filters everything out
    val stats2 = SilverPipeline.run(spark, bronzeDf(Seq(doc1, doc2)), cfg)
    assert(stats2.changed == 0)
    assert(stats2.chunksWritten == stats1.chunksWritten)
  }

  test("dedup keeps the newest of duplicate resource rows") {
    import spark.implicits._
    val cfg = freshCfg()
    val dup = bronzeDf(Seq(doc1)).withColumn("scraped_at",
      to_timestamp(lit("2026-02-01 00:00:00")))
      .withColumn("title", lit("Algorithms v2"))
    val both = bronzeDf(Seq(doc1)).unionByName(dup)
    val stats = SilverPipeline.run(spark, both, cfg)
    assert(stats.bronzeRows == 2 && stats.deduped == 1)
    val title = TableMerge.read(spark, cfg.resourcesPath)
      .select("title").as[String].head()
    assert(title == "Algorithms v2")
  }

  test("changed record replaces its chunks, untouched resources keep theirs") {
    import spark.implicits._
    val cfg = freshCfg()
    SilverPipeline.run(spark, bronzeDf(Seq(doc1, doc2)), cfg)
    val chunksBefore = TableMerge.read(spark, cfg.chunksPath)
    val r2ChunksBefore = chunksBefore.filter(col("chunk_text").contains("Cells"))
      .select("chunk_id").as[String].collect().toSet

    // newer content for doc1 only
    val updated = bronzeDf(Seq(doc1.copy(_7 = "Completely new content about graphs. " * 20)))
      .withColumn("scraped_at", to_timestamp(lit("2026-03-01 00:00:00")))
    val stats = SilverPipeline.run(spark, updated, cfg)
    assert(stats.changed == 1)

    val after = TableMerge.read(spark, cfg.chunksPath)
    // doc2's chunks survived untouched
    assert(after.filter(col("chunk_text").contains("Cells"))
      .select("chunk_id").as[String].collect().toSet == r2ChunksBefore)
    // doc1's old chunks are gone, new ones present
    assert(after.filter(col("chunk_text").contains("sorting")).count() == 0)
    assert(after.filter(col("chunk_text").contains("graphs")).count() > 0)
  }

  test("force reprocess bypasses CDC") {
    val cfg = freshCfg()
    SilverPipeline.run(spark, bronzeDf(Seq(doc1)), cfg)
    val stats = SilverPipeline.run(spark, bronzeDf(Seq(doc1)), cfg, forceReprocess = true)
    assert(stats.changed == 1)
  }

  test("PDF-bytes run: outline PDF yields tier 1/2/3; broken bytes degrade to flat chunks") {
    import spark.implicits._
    import graft.multimodal.PdfCodec
    import graft.multimodal.PdfCodec.OutlineNode
    val cfg = freshCfg()
    // r1: a real 4-page PDF with a 2-chapter outline (1 section each);
    // r2: corrupted bytes — the reference's parse-exception fallthrough
    val body = "Sorting and searching explained with many words here. " * 3
    val goodPdf = PdfCodec.encode(
      (1 to 4).map(p => s"Page $p. $body"),
      Seq(OutlineNode("Chapter 1", 1, Seq(OutlineNode("Sec 1.1", 1))),
        OutlineNode("Chapter 2", 3, Seq(OutlineNode("Sec 2.1", 3)))))
    val badPdf = "definitely not a pdf".getBytes("UTF-8")
    val bronze = bronzeDf(Seq(doc1, doc2)).withColumn("pdf",
      when(col("resource_id") === "r1", lit(goodPdf)).otherwise(lit(badPdf)))
    val hier = graft.chunk.HierarchicalChunker.Config(
      sectionChunk = graft.chunk.Chunker.Config(
        maxChars = 240, minChars = 40, overlapChars = 40))
    val stats = SilverPipeline.runPdf(spark, bronze, cfg, hier)
    assert(stats.changed == 2 && stats.chunksWritten > 0)
    val chunks = TableMerge.read(spark, cfg.chunksPath)
      .select("resource_uid", "chunk_tier", "chunk_type", "chunk_text")
      .as[(String, Int, String, String)].collect().toSeq
    val byUid = chunks.groupBy(_._1)
    val r1Uid = byUid.keys.find(uid => byUid(uid).exists(_._4.contains("Page 1"))).get
    val r1 = byUid(r1Uid)
    // decodable: the full hierarchy from the REAL outline
    assert(r1.map(_._2).toSet == Set(1, 2, 3),
      s"outline PDF must produce tiers 1/2/3, got ${r1.map(_._2).toSet}")
    assert(r1.count(_._3 == "doc_summary") == 1)
    assert(r1.count(_._3 == "chapter_summary") == 2, "one summary per outline chapter")
    assert(r1.exists(c => c._2 == 3 && c._4.contains("Page 3")),
      "tier-3 chunks must carry the DECODED page text")
    // broken: flat chunking over the bronze fallback text, no summaries
    val r2 = (byUid - r1Uid).values.flatten.toSeq
    assert(r2.nonEmpty, "broken PDF must still chunk from the fallback text")
    assert(r2.map(_._2).toSet == Set(3),
      s"broken PDF degrades to flat tier-3 chunks, got tiers ${r2.map(_._2).toSet}")
    assert(r2.forall(c => c._3 != "doc_summary" && c._3 != "chapter_summary"))
    assert(r2.exists(_._4.contains("organisms")),
      "flat chunks must come from the bronze text column")
  }

  test("pre-split input: no exchange ships the pdf bytes to the decode flatMap") {
    import graft.multimodal.PdfCodec
    val cores = spark.sparkContext.defaultParallelism
    val body = "Sorting and searching explained with many words here. " * 3
    val pdf = PdfCodec.encode((1 to 2).map(p => s"Page $p. $body"), Seq.empty)
    val pre = SilverPipeline.normalize(
      bronzeDf(Seq(doc1)).withColumn("pdf", lit(pdf)))
      .repartition(cores + 4).localCheckpoint(true)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      // sparkPlan, not executedPlan: AQE's wrapper hides children
      // until execution, which would make every count read 0
      df.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
    val hier = graft.chunk.HierarchicalChunker.Config()
    // arrives with >= cores partitions: scan-split parallelism carries
    // the binary column straight into the decode — zero exchanges
    assert(exchanges(SilverPipeline.pdfChunksOf(spark, pre, hier)) == 0,
      "pre-split input must reach the decode flatMap with no shuffle")
    assert(exchanges(SilverPipeline.textChunksOf(spark, pre,
      graft.chunk.Chunker.Config())) == 0)
    // under-partitioned input pays the one-time fan-out (CPU-bound
    // chunking would otherwise run on too few cores)
    val narrow = pre.coalesce(1).localCheckpoint(true)
    assert(exchanges(SilverPipeline.pdfChunksOf(spark, narrow, hier)) == 1)
    // and the chunks themselves are identical either way
    val a = SilverPipeline.pdfChunksOf(spark, pre, hier)
      .select("chunk_text").collect().map(_.getString(0)).sorted.toSeq
    val b = SilverPipeline.pdfChunksOf(spark, narrow, hier)
      .select("chunk_text").collect().map(_.getString(0)).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }
}
