package graft.silver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TableMerge

/** The silver-layer lifecycle (SURVEY §3.1, reference
  * `SilverTransformer.run` at `airflow/src/silver/transformer.py:
  * 2493-2647`) composed from this engine's operators:
  *
  *   bronze multiline JSON → normalize → latest-wins dedup (W1) →
  *   resource-level CDC against the existing table (J1+P3/I1) →
  *   copy-on-write MERGE upsert (K1) → chunk changed docs (F19/F20) →
  *   chunk MERGE + tombstoned deletes (I3/K2).
  *
  * Everything is DataFrame-native: normalization is a column program
  * (the scalar F-battery as native expressions), dedup is one window,
  * CDC is one left join, and each write is a TableMerge. No collect in
  * the row path — at 100 TB the only driver-side state is the merge
  * bookkeeping.
  */
object SilverPipeline {

  final case class Config(
      resourcesPath: String,
      chunksPath: String,
      chunkMax: Int = 2400,
      chunkMin: Int = 400,
      chunkOverlap: Int = 300)

  final case class RunStats(
      bronzeRows: Long,
      deduped: Long,
      changed: Long,
      chunksWritten: Long)

  /** Normalize a bronze frame (schema: resource_id, source, url, title,
    * description, language, text, scraped_at) into silver resource rows
    * with uid/fingerprint/quality columns — the column-program subset of
    * F5-F13 (the full record-map path lives in
    * [[graft.functions.RecordNormalizer]]). */
  def normalize(bronze: DataFrame): DataFrame =
    bronze
      .withColumn("source_system", lower(coalesce(col("source"), lit("unknown"))))
      .withColumn("language",
        when(col("language").isNull || trim(col("language")) === "", lit("en"))
          .otherwise(substring(lower(trim(col("language"))), 1, 2)))
      .withColumn("title", when(trim(col("title")) === "", lit(null)).otherwise(trim(col("title"))))
      .withColumn("resource_uid",
        sha2(concat_ws("||", col("source_system"), col("resource_id")), 256))
      .withColumn("record_fingerprint",
        sha2(concat_ws("||", coalesce(col("title"), lit("")),
          coalesce(col("description"), lit("")), coalesce(col("url"), lit("")),
          col("language")), 256))
      .withColumn("quality_bp",
        when(col("title").isNotNull, 18).otherwise(0) +
          when(length(coalesce(col("description"), lit(""))) >= 80, 22).otherwise(0) +
          when(col("url").isNotNull, 13).otherwise(0) +
          when(col("language").isNotNull, 5).otherwise(0))
      .withColumn("scraped_at", col("scraped_at").cast("timestamp"))

  /** W1 — latest record per resource_uid wins. */
  def dedupLatest(normalized: DataFrame): DataFrame = {
    val w = Window.partitionBy("resource_uid")
      .orderBy(col("scraped_at").desc_nulls_last, col("resource_id").desc)
    normalized.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** I1 — keep rows that are new, newer, or content-changed vs the
    * existing silver table (delegates to the reusable
    * [[graft.operators.ChangeDetector]]). */
  def detectChanges(spark: SparkSession, batch: DataFrame, resourcesPath: String,
                    forceReprocess: Boolean = false): DataFrame = {
    if (forceReprocess || !TableMerge.exists(resourcesPath)) return batch
    graft.operators.ChangeDetector.changedOnly(
      batch, TableMerge.read(spark, resourcesPath),
      keys = Seq("resource_uid"),
      fingerprintCol = "record_fingerprint", tsCol = "scraped_at")
  }

  /** One silver run: returns per-stage row counts (the reference's
    * StageBenchmarkLogger records the same shape). */
  def run(spark: SparkSession, bronze: DataFrame, cfg: Config,
          forceReprocess: Boolean = false): RunStats = {
    val chunkCfg = graft.chunk.Chunker.Config(cfg.chunkMax, cfg.chunkMin, cfg.chunkOverlap)
    runWith(spark, bronze, cfg, forceReprocess, textChunksOf(spark, _, chunkCfg))
  }

  /** The silver run whose chunk stage consumes REAL PDF BYTES
    * (reference `transformer.py:1921-2025`: the chunk stage reads the
    * downloaded asset, not pre-extracted text). Bronze must carry a
    * `pdf BINARY` column beside `text`; see [[pdfChunksOf]] for the
    * decode → TOC cascade → hierarchical chunking path and the
    * broken-bytes fallthrough. */
  def runPdf(spark: SparkSession, bronze: DataFrame, cfg: Config,
             hier: graft.chunk.HierarchicalChunker.Config =
               graft.chunk.HierarchicalChunker.Config(),
             forceReprocess: Boolean = false): RunStats =
    runWith(spark, bronze, cfg, forceReprocess, pdfChunksOf(spark, _, hier))

  /** Fan a frame out to the session's core count ONLY when it arrives
    * with fewer partitions (the checkpointed CDC frame often does):
    * when the scan already split wide enough — bronze at scale arrives
    * in many files — the decode/chunk flatMap inherits that
    * parallelism and NO exchange ships the payload through a shuffle.
    * This matters most for [[pdfChunksOf]], where an unconditional
    * repartition would move every PDF byte (the dominant I/O at 100 TB
    * of PDFs); the further lever there is
    * `spark.sql.files.maxPartitionBytes`, not a shuffle. Tradeoff: an
    * input that is wide but SKEWED (most rows in few partitions) keeps
    * its skew — if a caller knows its frame is skewed, it should
    * rebalance upstream where the payload columns aren't attached
    * yet, which is cheaper than this stage ever could be. */
  private def fanOut(spark: SparkSession, df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores)
  }

  /** F19/F20 — flat sliding-window chunks over the pre-extracted text
    * column (the original chunk stage). */
  private[graft] def textChunksOf(spark: SparkSession, src: DataFrame,
                                  chunkCfg: graft.chunk.Chunker.Config): DataFrame = {
    import spark.implicits._
    fanOut(spark, src.select("resource_uid", "resource_id", "language", "text"))
      .as[(String, String, String, String)]
      .flatMap { case (uid, rid, lang, text) =>
        val (rows, _) = graft.chunk.Chunker.chunkDocumentRecord(
          uid, s"asset_$rid", lang, Seq(1 -> Option(text).getOrElse("")), chunkCfg)
        rows
      }
      .toDF()
  }

  /** F21/F22 over bytes — the chunk stage of [[runPdf]]: decode the
    * `pdf` column through [[graft.multimodal.PdfCodec]] (xref walk,
    * FlateDecode, outline flatten), then chunk HIERARCHICALLY with the
    * decoded page texts and outline driving the TOC cascade (tier 1
    * doc summary / tier 2 chapter summaries / tier 3 section chunks).
    * UNDECODABLE bytes degrade to single-page flat chunking over the
    * bronze fallback `text` — the reference's PyPDF2 parse-exception
    * fallthrough (`transformer.py:1921-2025`). mapPartitions-shaped
    * typed flatMap: when the input arrives pre-split (≥ cores), bytes
    * decode where they live and no shuffle carries the binary column;
    * only an under-partitioned input pays a one-time fan-out exchange
    * (see [[fanOut]]). */
  private[graft] def pdfChunksOf(spark: SparkSession, src: DataFrame,
                                 hier: graft.chunk.HierarchicalChunker.Config): DataFrame = {
    import spark.implicits._
    import graft.chunk.{HierarchicalChunker, TocExtractor}
    fanOut(spark, src.select("resource_uid", "resource_id", "language", "pdf", "text"))
      .as[(String, String, String, Array[Byte], String)]
      .flatMap { case (uid, rid, lang, pdf, fallback) =>
        val asset = s"asset_$rid"
        val (chunks, _, _) =
          Option(pdf).flatMap(graft.multimodal.PdfCodec.decode) match {
            case Some(doc) =>
              HierarchicalChunker.chunkDocument(uid, asset, lang,
                doc.pages.zipWithIndex.map { case (t, i) => (i + 1, t) },
                doc.outline.map { case (lv, t, p) => TocExtractor.OutlineEntry(lv, t, p) },
                hier)
            case None =>
              HierarchicalChunker.chunkDocument(uid, asset, lang,
                Seq(1 -> Option(fallback).getOrElse("")), Seq.empty, hier)
          }
        chunks
      }
      .toDF()
  }

  /** The row count an observation collected. A stage whose input Spark
    * proved empty at run time (adaptive execution replaces it with an
    * empty relation) runs no task and reports no metrics: that is 0 rows,
    * as for an empty bronze batch. */
  private def observedCount(obs: org.apache.spark.sql.Observation): Long =
    obs.get.get("n").fold(0L)(_.asInstanceOf[Long])

  private def runWith(spark: SparkSession, bronze: DataFrame, cfg: Config,
                      forceReprocess: Boolean,
                      chunksOf: DataFrame => DataFrame): RunStats = {
    import spark.implicits._

    // The bronze, dedup and change counts ride the ONE materializing job,
    // the eager checkpoint below, as CollectMetrics observations (A8)
    // instead of count() actions: a count per stage would scan bronze
    // again and, for the change count, run one more job over the
    // checkpoint.
    val obsBronze = org.apache.spark.sql.Observation()
    val obsDedup = org.apache.spark.sql.Observation()
    val obsChanged = org.apache.spark.sql.Observation()
    val normalized = normalize(bronze).observe(obsBronze, count(lit(1)).as("n"))

    val deduped = dedupLatest(normalized).observe(obsDedup, count(lit(1)).as("n"))

    // localCheckpoint (not persist): the CDC frame's lineage reads the
    // live resources table, which the upsert below REPLACES — a cache
    // eviction after the swap would recompute against deleted files (or
    // re-run CDC against the new table and find nothing). Checkpointing
    // cuts the lineage so downstream stages replay from stored blocks.
    // On a cluster, prefer a reliable checkpoint dir for executor-loss
    // tolerance.
    val changed = detectChanges(spark, deduped, cfg.resourcesPath, forceReprocess)
      .observe(obsChanged, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val changedN = observedCount(obsChanged)
    val bronzeRows = observedCount(obsBronze)
    val dedupedN = observedCount(obsDedup)

    // chunk only the changed documents (typed flatMap — the stage the
    // caller picked: flat text chunks or the PDF-bytes hierarchy)
    if (changedN > 0) {
      TableMerge.upsert(spark, cfg.resourcesPath,
        changed, keys = Seq("resource_uid"))
      // tombstone chunks of changed resources AND insert the fresh set in
      // ONE copy-on-write rewrite (pre-r6: delete then upsert = two full
      // table rewrites per run)
      TableMerge.replaceKeys(spark, cfg.chunksPath, chunksOf(changed),
        changed.select("resource_uid"), groupKeys = Seq("resource_uid"))
    } else if (!TableMerge.exists(cfg.resourcesPath) ||
               !TableMerge.exists(cfg.chunksPath)) {
      // A zero-change FIRST run (empty bronze batch) must still leave
      // valid, readable tables behind — downstream consumers read the
      // silver tables unconditionally, and "no changes yet" is an empty
      // table, not a missing one. The schemas come from the same frames
      // a non-empty run would write (changed is empty here, so both
      // writes are zero-row snapshots persisted via the schema sidecar).
      if (!TableMerge.exists(cfg.resourcesPath))
        TableMerge.createOrReplace(changed, cfg.resourcesPath)
      if (!TableMerge.exists(cfg.chunksPath))
        TableMerge.createOrReplace(chunksOf(changed), cfg.chunksPath)
    }
    // from the live snapshot's parquet footers, not a count job
    val chunksWritten =
      if (TableMerge.exists(cfg.chunksPath)) TableMerge.rowCount(spark, cfg.chunksPath)
      else 0L
    RunStats(bronzeRows, dedupedN, changedN, chunksWritten)
  }
}
