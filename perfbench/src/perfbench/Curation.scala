package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** The curation probe, run at the end of the traced `medallion_incremental`
  * run: one fresh corpus (documents and embeddings with exact and near
  * duplicates injected at known rates) through the curation funnel, then
  * each native kernel alone. One untraced corpus warms the funnel up; the
  * second is traced and checked. `PipelineShared.memo` is shared within a
  * corpus, as in production. Entries whose output is checked are forced by
  * collecting it, the others by a noop write. */
final class Curation(nDocs: Int) {
  val Funnel = Seq("dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs", "search_hybrid",
    "sim_ivf_topk", "text_decontam_bloom", "e2e_curation_funnel_v2")
  private val Collected = Set("dedup_exact", "dedup_simhash_pairs", "search_hybrid")

  /** Writes corpus `index` of the run under `parent`; returns it and its path. */
  private def prepare(ctx: Ctx, parent: File, index: Int): (Gen.Corpus, String) = {
    val c = Gen.corpus(ctx.seed, index, nDocs)
    val p = new File(parent, s"corpus-$index").getPath
    val s = ctx.spark
    import s.implicits._
    c.docs.toDF().write.parquet(s"$p/documents.parquet")
    c.embs.toDF().write.parquet(s"$p/embeddings.parquet")
    (c, p)
  }

  /** One corpus through the funnel, each entry in a span of the `queries`
    * layer; returns what its outputs got wrong, if anything. */
  private def funnel(ctx: Ctx, c: Gen.Corpus, path: String): Option[String] = {
    val t = ctx.tracer
    val out = Funnel.map { name =>
      name -> t.span(s"queries.$name", "queries") {
        val df = SparkEntry.queries(name)(ctx.spark, path)
        if (Collected(name)) df.collect().toSeq
        else { df.write.format("noop").mode("overwrite").save(); Seq.empty[Row] }
      }
    }.toMap
    val exact = out("dedup_exact")
    val pairs = out("dedup_simhash_pairs")
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    Checks.curationOp(c, Checks.hybridScores(c),
      (exact.map(_.getAs[Long]("n_before")).sum, exact.map(_.getAs[Long]("n_after")).sum),
      pairs, out("search_hybrid").head.getAs[Long]("doc_id"))
  }

  def probe(ctx: Ctx, dir: File): Unit = {
    val traced = ctx.tracer
    ctx.tracer = new Tracer(ctx.spark.sparkContext, enabled = false)
    val (warm, warmPath) = prepare(ctx, dir, 0)
    funnel(ctx, warm, warmPath)
    ctx.tracer = traced
    val (c, path) = prepare(ctx, dir, 1)
    ctx.check("curation_probe", traced.span("curation.probe", "probe")(funnel(ctx, c, path)))
    kernels(ctx, path)
  }

  /** Each native kernel timed alone through `selectExpr` over the op's
    * corpus, replicated 16 times and cached so the scan is not timed. */
  private def kernels(ctx: Ctx, path: String): Unit = {
    val s = ctx.spark
    val rep = s.range(16).withColumnRenamed("id", "rep")
    val docs = s.read.parquet(s"$path/documents.parquet").crossJoin(rep)
      .selectExpr("doc_id * 16 + rep AS doc_id", "split(text, ' ') AS tokens",
        "split(text, '') AS chars").cache()
    val embs = s.read.parquet(s"$path/embeddings.parquet").crossJoin(rep)
      .selectExpr("vec_id * 16 + rep AS vec_id", "embedding").cache()
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    val bloom = docs.selectExpr("graft_bloom_agg(doc_id, 1048576, 5) AS bloom").cache()
    bloom.count()
    val runs: Seq[(String, DataFrame, String, Double)] = Seq(
      ("cosine", embs, "graft_cosine(embedding, embedding)", nEmbs),
      ("minhash", docs, "graft_minhash(graft_word_fps(tokens), '1000003,12345;999983,54321')",
        nDocs),
      ("simhash", docs, "graft_simhash(graft_word_fps(tokens), 32)", nDocs),
      ("shingle_hash64", docs, "graft_shingle_hash64(tokens)", nDocs),
      ("bloom_probe", docs.crossJoin(bloom), "graft_bloom_contains(bloom, doc_id)", nDocs),
      ("lsh_bands", embs, "graft_lsh_bands(embedding, 4, 8)", nEmbs),
      ("vsum", embs.selectExpr("transform(embedding, x -> CAST(x * 1000000 AS BIGINT)) AS q"),
        "graft_vsum(q)", nEmbs),
      ("bpe_merge", docs, "graft_bpe_merge(chars, 's', 'p')", nDocs))
    runs.foreach { case (name, df, e, n) =>
      val (_, sec) = ctx.timed(df.selectExpr(e).write.format("noop").mode("overwrite").save())
      ctx.add(s"kernels.$name.rows", n)
      ctx.add(s"kernels.$name.s", sec)
    }
    Seq(docs, embs, bloom).foreach(_.unpersist(blocking = true))
  }
}
