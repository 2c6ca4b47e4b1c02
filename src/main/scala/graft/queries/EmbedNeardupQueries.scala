package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared._
import org.apache.spark.sql.expressions.Window

/** Embedding near-dup / semantic-decontamination tier — split from
  * VectorQueries in r12 (mechanical move, registry names and oracles
  * unchanged): banded-LSH embedding near-dup pairs with the native
  * cosine confirm, the LSH pair-recall audit, semantic
  * decontamination, and the SemDeDup-style keep decision.
  */
private[graft] object EmbedNeardupQueries {

  /** Band `g` of the near-dup LSH signature: global hyperplane index
    * b = g*bandBits + j, in-band weight 2^j — mirrors the Spark side's
    * `bandExprs` exactly. */
  private[queries] def duckBandSig(emb: String, g: Int) =
    (0 until NeardupBandBits).map { j =>
      val b = g * NeardupBandBits + j
      s"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(generate_series(0, 63), i -> CAST($emb[i + 1] AS DOUBLE) * " +
        s"CAST((($b * 37 + i * 13) % 21) - 10 AS DOUBLE))), (a, x) -> a + x) >= 0 " +
        s"THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** LSH banding parameters for the embedding near-dup join. Bucket
    * occupancy per band is E[N / 2^bandBits]; the in-band self-join costs
    * O(bands · N²/2^bandBits), so `bandBits` must grow with log2(N) to
    * keep per-bucket occupancy — and therefore join cost per row —
    * CONSTANT as the corpus scales: 8 bits suits ~10^5 vectors, ~100 TB
    * of 768-d embeddings (~10^10 vectors) wants bandBits ≈ 26. Multiple
    * narrower bands (vs one wide signature) trade precision for recall
    * the standard LSH way: a near-duplicate pair only needs to agree on
    * ONE band's hyperplane signs, while exact copies agree on all. */
  private val NeardupBandBits = 8
  private val NeardupBands = 2

  /** Confirmed near-dup pairs via banded LSH, WIDTH-PARAMETERIZED:
    * corpus + exact copies (vec_id + 100000 for vec_id%25==0); candidate
    * pairs come from a per-band signature equi-join (id < id, distinct
    * across bands), then cosine ≥ 0.999 confirm with the NATIVE codegen'd
    * [[graft.expressions.CosineSimilarity]] — the r4 `zip_with` +
    * `aggregate` confirm was CodegenFallback and pulled the whole
    * post-join projection out of whole-stage codegen (2.0→7.8 s).
    * Embeddings are fetched by joining candidates back to the corpus
    * AFTER the pair distinct, so the band join shuffles only
    * (band, vec_id) rows — never the 64-float arrays.
    *
    * `bandBits` is the scale lever (see the law above): the battery
    * entries bind the fixed 8-bit width their oracles replicate; the
    * ×32 scale harness MEASURED the fixed width compounding (t×32/t×8 =
    * 15-35× on 4× data, r10) — and measured that the uniform-data
    * +1-bit-per-doubling rule is ALSO insufficient on clustered corpora
    * (correlated hyperplanes split tight clusters weakly; candidate
    * pairs/row still grew 17.6→115 at 8/11/13 bits). The harness
    * therefore picks the width from a cheap band-bucket census per
    * corpus (~2-3 bits per doubling measured here: 8/14/20 holds
    * pairs/row flat), which is the production tuning shape: census
    * first, then commit to the join. */
  /** Session-memoized per (d, width) (r21): the confirmed near-dup
    * pair table is a PERSISTED artifact in the production analogue
    * (exactly like the Jaccard pair table `jaccardPairsCkpt` shares,
    * r20) and THREE registry entries consume it at the battery width —
    * sim_embed_neardup, dedup_lsh_recall, dedup_semantic_keep — each
    * previously re-running the banded self-join + cosine confirm.
    * Deterministic per-row arithmetic (no aggregation), so reuse
    * cannot change a value; DeterminismSpec clears the memo between
    * its width sweeps, and the probe roster prices the full build. */
  private[graft] def neardupPairs(
      s: SparkSession, d: String, bands: Int, bandBits: Int): DataFrame =
    PipelineShared.memo(s, s"neardup_pairs|$d|$bands|$bandBits") {
      neardupPairsBuild(s, d, bands, bandBits).localCheckpoint()
    }

  private def neardupPairsBuild(
      s: SparkSession, d: String, bands: Int, bandBits: Int): DataFrame = {
    val base = Tables.embeddings(s, d)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .union(base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val bandRows = corpus.selectExpr("vec_id",
      s"posexplode(graft_lsh_bands(embedding, $bands, $bandBits)) AS (band_idx, band_sig)")
    val candidates = bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band_sig") === col("b.band_sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    candidates
      .join(corpus.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .selectExpr("id_a", "id_b", "graft_cosine(emb_a, emb_b) AS cos_sim")
      .filter(col("cos_sim") >= 0.999)
  }

  private[graft] def embedNeardup(
      s: SparkSession, d: String, bands: Int, bandBits: Int): DataFrame =
    neardupPairs(s, d, bands, bandBits)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy("id_a", "id_b")

  private val simEmbedNeardup: Q = (s, d) =>
    embedNeardup(s, d, NeardupBands, NeardupBandBits)

  /** LSH pair-recall AUDIT — the near-dup complement of
    * `sim_recall_at_k`: how many of the TRUE cosine ≥ 0.999 pairs does
    * the banded-LSH pipeline actually surface at the battery width?
    * Ground truth is the deliberate all-pairs brute force (id < id,
    * native cosine — at 100 TB this audit runs over a SAMPLE; the
    * quadratic cost IS the audit's definition and the reason the LSH
    * path exists); the LSH side is the identical candidate+confirm
    * pipeline the battery runs, so found ⊆ true by construction and the
    * single output row — true pairs, found pairs, recall in basis
    * points — is hash-pinned per scale factor. A banding or width
    * regression changes the pinned recall number, not a vibe. */
  private val dedupLshRecall: Q = (s, d) => {
    val base = Tables.embeddings(s, d)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .union(base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val brute = corpus.as("a")
      .join(corpus.as("b"), col("a.vec_id") < col("b.vec_id"))
      .selectExpr("a.vec_id AS id_a", "b.vec_id AS id_b",
        "graft_cosine(a.embedding, b.embedding) AS cos_sim")
      .filter(col("cos_sim") >= 0.999)
      .select("id_a", "id_b")
    val lsh = neardupPairs(s, d, NeardupBands, NeardupBandBits)
      .select(col("id_a"), col("id_b"), lit(1L).as("found"))
    brute.join(lsh, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .withColumn("recall_bp",
        floor(col("n_found") * 10000 / greatest(col("n_true_pairs"), lit(1L))).cast("long"))
  }

  /** Semantic DECONTAMINATION — the embedding-space complement of the
    * n-gram/Bloom eval-decontam pair: flag corpus items whose embedding
    * is near-identical (cosine ≥ 0.999) to an eval-suite vector, the
    * paraphrase-contamination sweep n-gram overlap cannot see. Shape is
    * ASYMMETRIC, which is the whole scale story: the eval suite is tiny
    * (a deterministic vec_id % 100 sample here; thousands of rows in
    * production), so its banded-LSH index BROADCASTS, and the corpus
    * side is one scan — bands computed in-projection, hash-joined
    * against the broadcast index, cosine-confirmed in the same codegen
    * stage. The corpus NEVER shuffles before the prune; the only
    * exchanges downstream carry confirmed contamination hits
    * (dropDuplicates + the per-item aggregate). Confirm-before-distinct
    * is deliberate: both sides' embeddings are already in hand at the
    * join, so re-fetching after a pair-distinct (the symmetric
    * near-dup pattern) would cost a corpus join; duplicate confirm work
    * is bounded by the band count instead. Self-matches (an eval vector
    * that IS a corpus row) are excluded by id; the injected +100000
    * copies of the %25 stratum guarantee true hits for the gate. */
  private val textDecontamSemantic: Q = (s, d) => {
    val base = Tables.embeddings(s, d)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .union(base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val evalSet = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("eval_emb"))
    val evalBands = evalSet.selectExpr("eval_id", "eval_emb",
      s"posexplode(graft_lsh_bands(eval_emb, $NeardupBands, $NeardupBandBits))" +
        " AS (band_idx, band_sig)")
    val corpusBands = corpus.selectExpr("vec_id", "embedding",
      s"posexplode(graft_lsh_bands(embedding, $NeardupBands, $NeardupBandBits))" +
        " AS (band_idx, band_sig)")
    corpusBands.join(broadcast(evalBands), Seq("band_idx", "band_sig"))
      .filter(col("vec_id") =!= col("eval_id"))
      .selectExpr("vec_id", "eval_id", "graft_cosine(embedding, eval_emb) AS cos_sim")
      .filter(col("cos_sim") >= 0.999)
      .dropDuplicates("vec_id", "eval_id")
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"),
        max(floor(col("cos_sim") * 1000000).cast("long")).as("max_cos_e6"))
      .orderBy("vec_id")
  }

  /** Semantic dedup KEEP decision (the SemDeDup-style curation step):
    * embedding near-dup pairs → connected components → ONE survivor per
    * cluster chosen by QUALITY (document n_chars, doc-id tiebreak), not
    * by min id — the rule a real curation pipeline applies ("keep the
    * best copy, drop the rest"). Composes three verified pieces (banded
    * LSH candidates + cosine confirm, min-label components, quality
    * join); injected duplicate vectors (+100000) have no document row
    * and rank -1, so an original always survives its copies. Scale: the
    * quality join and survivor window both cluster on cluster_id /
    * member id — bounded per-cluster work after the (already bucketed)
    * pair generation; the band width scales like [[neardupPairs]]. */
  private[graft] def semanticKeep(
      s: SparkSession, d: String, bands: Int, bandBits: Int): DataFrame = {
    val pairs = neardupPairs(s, d, bands, bandBits).select("id_a", "id_b")
    val comps = graft.operators.DedupClusters.connectedComponents(pairs, "id_a", "id_b")
    val quality = Tables.documents(s, d).select(col("doc_id").as("id"), col("n_chars"))
    val wSel = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("id").asc)
    comps.join(quality, Seq("id"), "left")
      .withColumn("q", coalesce(col("n_chars"), lit(-1L)))
      .withColumn("rn", row_number().over(wSel))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("id").as("kept_id"), col("n_members"))
      .orderBy("cluster_id")
  }

  private val dedupSemanticKeep: Q = (s, d) =>
    semanticKeep(s, d, NeardupBands, NeardupBandBits)

  /** Bitext-style MARGIN mining (Artetxe & Schwenk's ratio margin, the
    * CCMatrix/LASER parallel-corpus selection rule): corpora A/B are
    * the even/odd vec_id halves; a candidate pair scores
    * `margin = 2·cos(x,y) / (avgTopK_A(x) + avgTopK_B(y))` — raw
    * cosine rewards hubs (vectors near everything), the margin
    * normalizes by each side's local neighborhood density so only
    * MUTUALLY exceptional pairs surface. Both the candidates and the
    * kNN denominators are defined over the banded-LSH candidate set
    * (same bands as [[neardupPairs]]), NOT an all-pairs kNN — at scale
    * the margin is always computed against an ANN neighborhood
    * (retrieval noise is part of the method); making the band set the
    * DEFINITION keeps the operator oracle-exact at every width. All
    * margin arithmetic is integer (cos floored to e6, exact rational
    * via n_a/n_b cross-multiplication, positive-only so div truncation
    * = floor in both engines) — no float summation-order drift. Scale:
    * band equi-join (no arrays shuffled before the pair distinct), two
    * keyed windows, one keyed self-join of the scored pairs; top-20 is
    * a TakeOrdered, never a global sort. */
  private val simBitextMargin: Q = (s, d) => {
    val base = Tables.embeddings(s, d)
    val a = base.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = base.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val aBands = a.selectExpr("id_a",
      s"posexplode(graft_lsh_bands(emb_a, $NeardupBands, $NeardupBandBits)) AS (band_idx, band_sig)")
    val bBands = b.selectExpr("id_b",
      s"posexplode(graft_lsh_bands(emb_b, $NeardupBands, $NeardupBandBits)) AS (band_idx, band_sig)")
    val cand = aBands.join(bBands, Seq("band_idx", "band_sig"))
      .select("id_a", "id_b").distinct()
    val scored = cand.join(a, "id_a").join(b, "id_b")
      .selectExpr("id_a", "id_b",
        "CAST(floor(graft_cosine(emb_a, emb_b) * 1000000) AS BIGINT) AS cos_e6")
      .filter(col("cos_e6") > 0)
    val wA = Window.partitionBy("id_a").orderBy(col("cos_e6").desc, col("id_b").asc)
    val wB = Window.partitionBy("id_b").orderBy(col("cos_e6").desc, col("id_a").asc)
    val ranked = scored
      .withColumn("rn_a", row_number().over(wA))
      .withColumn("rn_b", row_number().over(wB))
    val aStats = ranked.filter(col("rn_a") <= 4).groupBy("id_a")
      .agg(sum("cos_e6").as("sum_a"), count(lit(1)).as("n_a"))
    val bStats = ranked.filter(col("rn_b") <= 4).groupBy("id_b")
      .agg(sum("cos_e6").as("sum_b"), count(lit(1)).as("n_b"))
    scored.join(aStats, "id_a").join(bStats, "id_b")
      .withColumn("margin_e6",
        expr("(2 * cos_e6 * n_a * n_b * 1000000) div (sum_a * n_b + sum_b * n_a)"))
      .orderBy(col("margin_e6").desc, col("id_a"), col("id_b"))
      .limit(20)
      .select("id_a", "id_b", "cos_e6", "margin_e6")
  }


  val queries: Seq[(String, Q)] = Seq(
    "dedup_semantic_keep" -> dedupSemanticKeep,
    "sim_embed_neardup" -> simEmbedNeardup,
    "sim_bitext_margin" -> simBitextMargin,
    "text_decontam_semantic" -> textDecontamSemantic,
    "dedup_lsh_recall" -> dedupLshRecall,
  )

  val oracles: Map[String, String] = Map(
    "sim_embed_neardup" ->
      // graft_cosine's fused loop = three independent sequential f64
      // folds (dot, |a|^2, |b|^2) — replicated here fold-for-fold
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
         |sigs AS (
         |  SELECT vec_id,
         |    ${duckBandSig("embedding", 0)} AS band_0,
         |    ${duckBandSig("embedding", 1)} AS band_1
         |  FROM corpus),
         |cand AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.band_0 = b.band_0 AND a.vec_id < b.vec_id
         |  UNION
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.band_1 = b.band_1 AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT id_a, id_b,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_zip(ea.embedding, eb.embedding),
         |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, x) -> a + x)
         |      / (sqrt(${duckSumSqOf("ea.embedding")})
         |         * sqrt(${duckSumSqOf("eb.embedding")})) AS cos_sim
         |  FROM cand
         |  JOIN corpus ea ON ea.vec_id = id_a
         |  JOIN corpus eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, round(cos_sim, 4) AS cos_sim
         |FROM pairs WHERE cos_sim >= 0.999 ORDER BY id_a, id_b""".stripMargin,
    "sim_bitext_margin" ->
      // same band-signature and cosine folds; margins via the exact
      // integer cross-multiplication (all terms positive, so DuckDB //
      // floor-div == Spark div truncation)
      s"""WITH a AS (
         |  SELECT vec_id AS id_a, embedding AS emb_a FROM embeddings WHERE vec_id % 2 = 0),
         |b AS (
         |  SELECT vec_id AS id_b, embedding AS emb_b FROM embeddings WHERE vec_id % 2 = 1),
         |asig AS (
         |  SELECT id_a, emb_a,
         |    ${duckBandSig("emb_a", 0)} AS band_0,
         |    ${duckBandSig("emb_a", 1)} AS band_1
         |  FROM a),
         |bsig AS (
         |  SELECT id_b, emb_b,
         |    ${duckBandSig("emb_b", 0)} AS band_0,
         |    ${duckBandSig("emb_b", 1)} AS band_1
         |  FROM b),
         |cand AS (
         |  SELECT id_a, id_b FROM asig JOIN bsig ON asig.band_0 = bsig.band_0
         |  UNION
         |  SELECT id_a, id_b FROM asig JOIN bsig ON asig.band_1 = bsig.band_1),
         |scored AS (
         |  SELECT id_a, id_b,
         |    CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_zip(ea.emb_a, eb.emb_b),
         |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
         |      / (sqrt(${duckSumSqOf("ea.emb_a")})
         |         * sqrt(${duckSumSqOf("eb.emb_b")})) * 1000000) AS BIGINT) AS cos_e6
         |  FROM cand
         |  JOIN a ea USING (id_a)
         |  JOIN b eb USING (id_b)),
         |pos AS (SELECT * FROM scored WHERE cos_e6 > 0),
         |ranked AS (
         |  SELECT id_a, id_b, cos_e6,
         |    row_number() OVER (PARTITION BY id_a ORDER BY cos_e6 DESC, id_b ASC) AS rn_a,
         |    row_number() OVER (PARTITION BY id_b ORDER BY cos_e6 DESC, id_a ASC) AS rn_b
         |  FROM pos),
         |astats AS (
         |  SELECT id_a, sum(cos_e6) AS sum_a, count(*) AS n_a
         |  FROM ranked WHERE rn_a <= 4 GROUP BY id_a),
         |bstats AS (
         |  SELECT id_b, sum(cos_e6) AS sum_b, count(*) AS n_b
         |  FROM ranked WHERE rn_b <= 4 GROUP BY id_b)
         |SELECT id_a, id_b, cos_e6,
         |  CAST((2 * cos_e6 * n_a * n_b * 1000000)
         |    // (sum_a * n_b + sum_b * n_a) AS BIGINT) AS margin_e6
         |FROM pos JOIN astats USING (id_a) JOIN bstats USING (id_b)
         |ORDER BY margin_e6 DESC, id_a, id_b LIMIT 20""".stripMargin,
    "text_decontam_semantic" ->
      // same band-signature and cosine folds as sim_embed_neardup, but
      // asymmetric: the %100 eval sample probes the corpus; UNION across
      // bands dedups candidate (corpus, eval) pairs like dropDuplicates
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
         |eval AS (
         |  SELECT vec_id AS eval_id, embedding AS eval_emb
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |csig AS (
         |  SELECT vec_id, embedding,
         |    ${duckBandSig("embedding", 0)} AS band_0,
         |    ${duckBandSig("embedding", 1)} AS band_1
         |  FROM corpus),
         |esig AS (
         |  SELECT eval_id, eval_emb,
         |    ${duckBandSig("eval_emb", 0)} AS band_0,
         |    ${duckBandSig("eval_emb", 1)} AS band_1
         |  FROM eval),
         |cand AS (
         |  SELECT c.vec_id, e.eval_id
         |  FROM csig c JOIN esig e ON c.band_0 = e.band_0 AND c.vec_id <> e.eval_id
         |  UNION
         |  SELECT c.vec_id, e.eval_id
         |  FROM csig c JOIN esig e ON c.band_1 = e.band_1 AND c.vec_id <> e.eval_id),
         |hits AS (
         |  SELECT cand.vec_id, cand.eval_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_zip(c.embedding, e.eval_emb),
         |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, x) -> a + x)
         |      / (sqrt(${duckSumSqOf("c.embedding")})
         |         * sqrt(${duckSumSqOf("e.eval_emb")})) AS cos_sim
         |  FROM cand
         |  JOIN corpus c ON c.vec_id = cand.vec_id
         |  JOIN eval e ON e.eval_id = cand.eval_id)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
         |  CAST(max(floor(cos_sim * 1000000)) AS BIGINT) AS max_cos_e6
         |FROM hits WHERE cos_sim >= 0.999
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "dedup_lsh_recall" ->
      // brute-force all-pairs ground truth + the same candidate/confirm
      // CTEs as sim_embed_neardup; recall = found/true in basis points
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
         |brute AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         |  WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_zip(a.embedding, b.embedding),
         |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
         |      / (sqrt(${duckSumSqOf("a.embedding")})
         |         * sqrt(${duckSumSqOf("b.embedding")})) >= 0.999),
         |sigs AS (
         |  SELECT vec_id,
         |    ${duckBandSig("embedding", 0)} AS band_0,
         |    ${duckBandSig("embedding", 1)} AS band_1
         |  FROM corpus),
         |cand AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.band_0 = b.band_0 AND a.vec_id < b.vec_id
         |  UNION
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.band_1 = b.band_1 AND a.vec_id < b.vec_id),
         |lsh AS (
         |  SELECT id_a, id_b
         |  FROM cand
         |  JOIN corpus ea ON ea.vec_id = id_a
         |  JOIN corpus eb ON eb.vec_id = id_b
         |  WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_zip(ea.embedding, eb.embedding),
         |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
         |      / (sqrt(${duckSumSqOf("ea.embedding")})
         |         * sqrt(${duckSumSqOf("eb.embedding")})) >= 0.999)
         |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
         |  CAST(sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  CAST(floor(sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END) * 10000
         |    / greatest(count(*), 1)) AS BIGINT) AS recall_bp
         |FROM brute br LEFT JOIN lsh l ON br.id_a = l.id_a AND br.id_b = l.id_b""".stripMargin,
    "dedup_semantic_keep" ->
      // same pair CTEs as sim_embed_neardup, then recursive closure
      // (dedup_connected_components pattern) + quality-ranked survivor
      s"""WITH RECURSIVE corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
         |sigs AS (
         |  SELECT vec_id,
         |    ${duckBandSig("embedding", 0)} AS band_0,
         |    ${duckBandSig("embedding", 1)} AS band_1
         |  FROM corpus),
         |cand AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.band_0 = b.band_0 AND a.vec_id < b.vec_id
         |  UNION
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.band_1 = b.band_1 AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT id_a, id_b,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_zip(ea.embedding, eb.embedding),
         |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, x) -> a + x)
         |      / (sqrt(${duckSumSqOf("ea.embedding")})
         |         * sqrt(${duckSumSqOf("eb.embedding")})) AS cos_sim
         |  FROM cand
         |  JOIN corpus ea ON ea.vec_id = id_a
         |  JOIN corpus eb ON eb.vec_id = id_b),
         |kept AS (SELECT id_a, id_b FROM pairs WHERE cos_sim >= 0.999),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM kept
         |  UNION SELECT id_b AS a, id_a AS b FROM kept),
         |reach(id, r) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |ranked AS (
         |  SELECT comp.cluster_id, comp.id,
         |    coalesce(doc.n_chars, -1) AS q,
         |    row_number() OVER (PARTITION BY comp.cluster_id
         |      ORDER BY coalesce(doc.n_chars, -1) DESC, comp.id ASC) AS rn,
         |    count(*) OVER (PARTITION BY comp.cluster_id) AS n_members
         |  FROM comp LEFT JOIN documents doc ON doc.doc_id = comp.id)
         |SELECT cluster_id, id AS kept_id, CAST(n_members AS BIGINT) AS n_members
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
  )
}
