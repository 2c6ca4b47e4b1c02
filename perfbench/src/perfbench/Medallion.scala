package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.GoldAnalytics
import graft.operators.TableMerge
import graft.silver.SilverPipeline

/** `medallion_incremental`: an initial silver load, then one bronze batch
  * per op through silver (normalize, latest-wins, CDC, merge, chunk), the
  * gold star rebuilt and written with TableMerge, and a compaction of the
  * silver tables. */
final class Medallion(initial: Int, batchSize: Int) extends Workload {
  import Gen.Bronze

  private var dir: File = _
  private val truth = mutable.LinkedHashMap.empty[String, Bronze]
  private var ledger = new DiskLedger
  private var pending: Vector[Bronze] = Vector.empty
  private var compacted = 0
  val setups = 3
  /** Two ops: the first timed ops still ran ~15% slower than the later
    * ones after a single warm-up op. */
  val warmupSeconds = 12.0

  private def res = new File(dir, "silver_resources").getPath
  private def chunks = new File(dir, "silver_chunks").getPath
  private def gold(n: String) = new File(dir, s"gold/$n").getPath
  private def roots = Seq(new File(res), new File(chunks), new File(dir, "gold"))
  private def cfg =
    SilverPipeline.Config(res, chunks, chunkMax = 400, chunkMin = 80, chunkOverlap = 60)

  private def bronzeDf(s: SparkSession, b: Seq[Bronze]): DataFrame = {
    import s.implicits._
    b.toDF()
  }

  def setup(ctx: Ctx, d: File): String = {
    dir = d
    val load = Gen.initialLoad(ctx.seed, initial)
    SilverPipeline.run(ctx.spark, bronzeDf(ctx.spark, load), cfg)
    truth.clear()
    load.foreach(b => truth(b.resource_id) = b)
    ledger = new DiskLedger
    ledger.scan(roots)
    Gen.digest(load.iterator.map(_.json))
  }

  private def buildGold(ctx: Ctx): Unit = {
    val s = ctx.spark
    val t = ctx.tracer
    import s.implicits._
    val resources = t.span("merge.read", "merge")(TableMerge.read(s, res))
    val chunkDf = t.span("merge.read", "merge")(TableMerge.read(s, chunks))
      .join(resources.select("resource_uid"), Seq("resource_uid"), "left_semi")
    // the fixed subject table and title-rule matches of the e2e lifecycle
    val subjects = Seq((1, "query table"), (2, "stream batch")).toDF("subject_id", "subject_name")
    val matches = resources.select(col("resource_uid"), col("title"))
      .withColumn("subject_id",
        when(col("title").contains("table"), 1).when(col("title").contains("stream"), 2))
      .filter(col("subject_id").isNotNull)
      .withColumn("similarity", lit(0.9))
    val tables = GoldAnalytics.buildAll(s, resources, chunkDf, subjects, matches,
      resources.select(to_date(col("scraped_at")).as("dt")))
    tables.toSeq.sortBy(_._1).foreach { case (n, df) =>
      t.span(s"merge.write.$n", "merge")(TableMerge.createOrReplace(df, gold(n)))
    }
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val (batch, expectChanged) = Gen.batch(ctx.seed, i, truth.valuesIterator.toVector, batchSize)
    pending = batch
    val t = ctx.tracer
    val stats = t.span("silver.run", "silver")(
      SilverPipeline.run(ctx.spark, bronzeDf(ctx.spark, batch), cfg))
    t.span("gold.build", "gold")(buildGold(ctx))
    // every op compacts, with maxFiles = 1: it folds each silver table back
    // into one file, so every op starts from the same file layout and the
    // few ops of a run form one population, where a compaction every
    // second op put the median between a plain and a compacting op; at the
    // default threshold of 4 files the few compactions of a run can all be
    // no-ops
    t.span("merge.compact", "merge") {
      compacted = TableMerge.compact(ctx.spark, res, Seq.empty, maxFiles = 1) +
        TableMerge.compact(ctx.spark, chunks, Seq.empty, maxFiles = 1)
    }
    if (t.enabled) {
      t.note("bronze_rows", stats.bronzeRows)
      t.note("changed_rows", stats.changed)
    }
    OpResult("batch", batch.size,
      () => Checks.medallionOp(stats.changed, stats.bronzeRows, expectChanged, batch.size))
  }

  override def afterOp(ctx: Ctx, i: Int, phase: String): Unit = {
    val (files0, links0) = (ledger.filesWritten, ledger.filesLinked)
    val written = ledger.scan(roots)
    val winners = Checks.latestWins(truth, pending)
    if (phase == "untraced") {
      ctx.add("input_bytes", pending.map(_.json.getBytes("UTF-8").length.toLong).sum)
      ctx.add("bytes_written", written.toDouble)
    }
    if (phase == "traced") {
      ctx.add("merge.bytes_written", written.toDouble)
      ctx.add("merge.files_written", (ledger.filesWritten - files0).toDouble)
      ctx.add("merge.files_linked", (ledger.filesLinked - links0).toDouble)
      if (compacted > 0) ctx.add("merge.compact_bytes_rewritten",
        Seq(res, chunks).map(p => DiskLedger.live(new File(p))._1).sum.toDouble)
      // the chunk layer alone: the chunker over this batch's changed texts
      val c = graft.chunk.Chunker.Config(400, 80, 60)
      val (n, sec) = ctx.timed(winners.iterator.map(b =>
        graft.chunk.Chunker.chunkTextSmart(b.text, c).size.toLong).sum)
      ctx.add("chunk.chunk_s", sec)
      ctx.add("chunk.chunks_out", n.toDouble)
    }
    pending = Vector.empty
    compacted = 0
  }

  override def finish(ctx: Ctx): Unit = {
    val s = ctx.spark
    def uids(df: DataFrame) = df.select("resource_uid").collect().map(_.getString(0)).toSeq
    val silver = TableMerge.read(s, res).select("resource_uid", "record_fingerprint")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    ctx.check("silver_latest_wins", Checks.silverMatches(silver, truth.values))
    ctx.check("every_resource_chunked",
      Checks.everyResourceChunked(uids(TableMerge.read(s, res)), uids(TableMerge.read(s, chunks))))
    val dims = Seq("dim_resources", "dim_sources", "dim_languages")
      .map(n => n -> TableMerge.read(s, gold(n)).count()).toMap
    ctx.check("gold_dims", Checks.goldDims(dims, truth.values))
    val live = roots.flatMap(r => if (r.getName == "gold") r.listFiles().toSeq else Seq(r))
    val liveStats = live.map(DiskLedger.live)
    ctx.info("live_bytes") = liveStats.map(_._1).sum
    ctx.info("distinct_bytes") = ledger.distinctBytes(roots)
    ctx.layer("merge.files_live") = liveStats.map(_._2).sum
    ctx.layer("merge.versions_on_disk") = live.map(DiskLedger.versionsOnDisk).sum
  }
}
