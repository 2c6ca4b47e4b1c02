package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared._

/** Hybrid-search + COMPOSED tier (split from PipelineQueries in r10;
  * the distributed-function + sketch-agg entries moved to
  * [[DistAggQueries]] in r14): BM25+kNN fusion (plain,
  * language-weighted, and RRF), context filtering, the RAG context
  * assembly, and the end-to-end curation funnels. All entries are
  * hash-verified against the DuckDB oracles below.
  */
private[queries] object ComposedQueries {

  /** Hybrid retrieval: REAL BM25 lexical scoring (the [[Bm25Scoring]]
    * scorer `search_bm25` uses — k1=1.2/b=0.75, corpus stats broadcast;
    * VERDICT r9 #2 closed the keyword-overlap stand-in) fused 0.5/0.5
    * with cosine kNN (Q2) after per-branch max-normalization (Q3,
    * chatbot_api.py:244-274, which fuses actual ES BM25 scores the same
    * way). Corpus stats AND maxima are 1-row broadcast cross joins — no
    * single-partition window anywhere. */
  private val searchHybrid: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .join(Tables.embeddings(s, d),
        col("doc_id") === col("vec_id"), "inner")
      .select(col("doc_id") +: Bm25Scoring.tfCols :+
        expr(s"($sumExpr * 0.1) / (sqrt($sumSqExpr) * 0.8)").as("vec"): _*)
    val stats = scored.agg(Bm25Scoring.nDocsAgg, Bm25Scoring.statAggs: _*)
    val lexed = scored.crossJoin(broadcast(stats))
      .withColumn("lex", expr(Bm25Scoring.scoreExpr))
    val maxima = lexed.agg(max("lex").as("lex_max"), max("vec").as("vec_max"))
    lexed.crossJoin(broadcast(maxima))
      .selectExpr("doc_id",
        "round(0.5 * (lex / lex_max) + 0.5 * (vec / vec_max), 6) AS fused_score")
      .orderBy(col("fused_score").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Q3 with language-dependent fusion weights (chatbot_api.py:37-40):
    * EN 0.5/0.5, non-EN 0.2 lexical / 0.8 vector — BM25 degrades off
    * English so the vector branch carries more weight. Same BM25-branch
    * max-norm fusion as search_hybrid, weights switched per language. */
  private val searchHybridLang: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .join(Tables.embeddings(s, d),
        col("doc_id") === col("vec_id"), "inner")
      .select(Seq(col("doc_id"), col("lang")) ++ Bm25Scoring.tfCols :+
        expr(s"($sumExpr * 0.1) / (sqrt($sumSqExpr) * 0.8)").as("vec"): _*)
    val stats = scored.agg(Bm25Scoring.nDocsAgg, Bm25Scoring.statAggs: _*)
    val lexed = scored.crossJoin(broadcast(stats))
      .withColumn("lex", expr(Bm25Scoring.scoreExpr))
    val maxima = lexed.agg(max("lex").as("lex_max"), max("vec").as("vec_max"))
    lexed.crossJoin(broadcast(maxima))
      .selectExpr("doc_id", "lang", "lex", "vec", "lex_max", "vec_max",
        "CASE WHEN lang = 'en' THEN 0.5D ELSE 0.2D END AS w_lex")
      .selectExpr("doc_id", "lang",
        "CAST(floor((w_lex * (lex / lex_max) + (1.0D - w_lex) * (vec / vec_max)) * 1000000) AS BIGINT) AS fused_e6")
      .orderBy(col("fused_e6").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Reciprocal-rank-fusion hybrid (Cormack et al., RRF k=60) — the
    * score-free alternative to search_hybrid's max-norm weighted sum:
    * each branch contributes 1/(60+rank) from its own top-20, so fusion
    * is immune to the branches' incomparable score scales (the reason
    * production hybrid search defaults to RRF when BM25 and cosine
    * calibration drifts). Both branch lists come from distributed
    * top-k (orderBy+limit — per-partition heap + single merge, never a
    * global window); ranks over each ≤20-row shortlist are counted by a
    * bounded broadcast self-join (rank = 1 + #strictly-better), keeping
    * the registry free of single-partition WindowExecs. Branch keys are
    * e6 fixed-point integers, so ranking and tie-breaks (doc_id) are
    * exact in both engines and the RRF doubles fold identically. */
  private val searchHybridRrf: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"), "inner")
      .select(col("doc_id") +: Bm25Scoring.tfCols :+
        expr(s"($sumExpr * 0.1) / (sqrt($sumSqExpr) * 0.8)").as("vec"): _*)
    val stats = scored.agg(Bm25Scoring.nDocsAgg, Bm25Scoring.statAggs: _*)
    val lexTop = scored.crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        s"CAST(floor((${Bm25Scoring.scoreExpr}) * 1000000) AS BIGINT) AS lex_e6")
      .orderBy(col("lex_e6").desc, col("doc_id").asc).limit(20)
    val vecTop = scored
      .selectExpr("doc_id", "CAST(floor(vec * 1000000) AS BIGINT) AS vec_e6")
      .orderBy(col("vec_e6").desc, col("doc_id").asc).limit(20)
    def ranked(top: DataFrame, key: String, rankName: String): DataFrame = {
      val rhs = top.select(col("doc_id").as("b_id"), col(key).as("b_key"))
      top.join(broadcast(rhs),
          col("b_key") > col(key) ||
            (col("b_key") === col(key) && col("b_id") < col("doc_id")), "left")
        .groupBy("doc_id")
        .agg((count("b_id") + lit(1L)).as(rankName))
    }
    ranked(lexTop, "lex_e6", "lex_rank")
      .join(ranked(vecTop, "vec_e6", "vec_rank"), Seq("doc_id"), "full_outer")
      .selectExpr("doc_id",
        "coalesce(lex_rank, CAST(0 AS BIGINT)) AS lex_rank",
        "coalesce(vec_rank, CAST(0 AS BIGINT)) AS vec_rank",
        "CAST(floor((coalesce(1.0D / (60.0D + CAST(lex_rank AS DOUBLE)), 0.0D)" +
          " + coalesce(1.0D / (60.0D + CAST(vec_rank AS DOUBLE)), 0.0D))" +
          " * 100000000) AS BIGINT) AS rrf_e8")
      .orderBy(col("rrf_e8").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Q5 — context filtering taxonomy (chatbot_api.py:277-343). */
  private val searchContextFilter: Q = (s, d) =>
    Tables.documents(s, d)
      .selectExpr(
        """CASE WHEN length(text) < 60 THEN 'too_short'
          |WHEN regexp_count(text, '[{};=]') >= 3 THEN 'code_heavy'
          |WHEN size(split(text, ' ')) < 10 THEN 'thin'
          |ELSE 'kept' END AS reason""".stripMargin)
      .groupBy("reason").agg(count(lit(1)).as("n"))
      .orderBy("reason")


  /** END-TO-END curation funnel — the composed flagship of the
    * training-data tier (what `e2e_silver_gold` is to the reference's
    * lifecycle): raw corpus (+injected exact duplicates) → quality
    * floor (≥ 10 tokens) → exact-dedup KEEP (min doc_id per content
    * digest, computed only among quality survivors) → temperature
    * resampling of the survivors (α = 1/2 on the integer grid, 80%
    * budget) → per-source funnel report with stage counts and the
    * surviving token mass. One row per source; every stage's math is
    * the already-verified building block, composed.
    *
    * Shape (PlanSpec-pinned): the per-source rate derivation embeds the
    * flagged subtree twice (once under the global srt total, once under
    * the rates themselves), and exchange REUSE collapses one of the
    * digest-window shuffles — the executed plan carries two hash(digest)
    * exchanges, three tiny hash(source)/SinglePartition aggregate
    * exchanges, and the output range sort. At 100 TB the remaining
    * duplicate corpus pass is what `localCheckpoint` after `flagged`
    * removes (the SilverPipeline pattern); kept declarative here so the
    * oracle sees the same lazy frame the driver hashes. */
  private val e2eCurationFunnel: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    val corpus = docs.union(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("source"), col("text")))
    val flagged = corpus
      .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
      .withColumn("digest", sha2(col("text"), 256))
      .withColumn("q", col("n_words") >= 10)
      .withColumn("keeper_id",
        min(when(col("q"), col("doc_id"))).over(Window.partitionBy("digest")))
      .withColumn("u", col("q") && col("doc_id") === col("keeper_id"))
    val rates = flagged.filter(col("u"))
      .groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("srt", floor(sqrt(col("n")) * 1000000).cast("long"))
    val total = rates.agg(sum("srt").as("total"))
    val rateBp = rates.crossJoin(broadcast(total))
      .withColumn("rate_bp", expr("(8000 * srt) DIV total"))
      .select("source", "rate_bp")
    flagged
      .join(broadcast(rateBp), Seq("source"), "left")
      .withColumn("keep", col("u") &&
        expr("graft_str_fp(concat('cur||', CAST(doc_id AS STRING))) % 10000") < col("rate_bp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("u"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        coalesce(sum(when(col("keep"), col("n_words"))), lit(0L)).as("sampled_tokens"))
      .orderBy("source")
  }


  /** RAG CONTEXT ASSEMBLY — the reference chatbot's actual serving
    * path (chatbot_api.py: retrieve top-k → drop unusable passages →
    * concatenate into the prompt until the context budget is spent),
    * as one relational query: BM25-rank the corpus, take the top-20
    * shortlist, apply the same usability rules `search_context_filter`
    * censuses, then GREEDILY pack survivors in rank order while the
    * running token total before each doc is under the 1,000-token
    * budget (the last doc may overflow — the rule the reference's
    * string-concat loop implements). The pack is a sequential fold,
    * but over a ≤20-row shortlist: sort_array(collect_list) collapses
    * it to one array and a single `aggregate` HOF walks it — no
    * single-partition global window, no driver loop; everything before
    * the LIMIT is the same broadcast-stats corpus scan as
    * `search_bm25`. Output pins the whole assembly: candidate/kept/
    * packed counts, packed token mass, and the packed id-sum (a
    * different pack order or off-by-one budget breaks it). */
  private val searchRagContext: Q = (s, d) => {
    val budget = 1000L
    val withTf = Tables.documents(s, d)
      .select(col("doc_id") +: col("text") +: Bm25Scoring.tfCols: _*)
    val stats = withTf.agg(Bm25Scoring.nDocsAgg, Bm25Scoring.statAggs: _*)
    val top = withTf.crossJoin(broadcast(stats))
      .withColumn("score_e4", floor(expr(Bm25Scoring.scoreExpr) * 10000).cast("long"))
      .withColumn("n_tokens", col("dl").cast("long"))
      .withColumn("usable",
        length(col("text")) >= 60 &&
          regexp_count(col("text"), lit("[{};=]")) < 3 && col("n_tokens") >= 10)
      .select(col("doc_id"), col("score_e4"), col("n_tokens"), col("usable"))
      .orderBy(col("score_e4").desc, col("doc_id").asc)
      .limit(20)
    top.withColumn("ns", -col("score_e4"))
      .agg(count(lit(1)).as("n_candidates"),
        sort_array(collect_list(when(col("usable"),
          struct(col("ns"), col("doc_id"), col("n_tokens"))))).as("a"))
      .selectExpr("n_candidates", "CAST(size(a) AS BIGINT) AS n_kept",
        s"""aggregate(a,
           |  named_struct('cum', 0L, 'n', 0L, 'ids', 0L, 'toks', 0L),
           |  (s, x) -> named_struct(
           |    'cum', s.cum + x.n_tokens,
           |    'n',   s.n   + IF(s.cum < $budget, 1L, 0L),
           |    'ids', s.ids + IF(s.cum < $budget, x.doc_id, 0L),
           |    'toks', s.toks + IF(s.cum < $budget, x.n_tokens, 0L))
           |) AS pk""".stripMargin)
      .select(col("n_candidates"), col("n_kept"),
        col("pk.n").as("n_packed"), col("pk.toks").as("context_tokens"),
        col("pk.ids").as("packed_id_sum"))
  }

  /** END-TO-END curation funnel V2 (VERDICT r12 #1) — the flagship
    * composition with the FUZZY stage the v1 funnel lacked: raw corpus
    * (+injected EXACT duplicates %10→+300000 AND injected NEAR-dups
    * %15→+400000, first token dropped — invisible to the digest) →
    * quality floor (≥ 10 tokens) → exact-dedup KEEP (min doc_id per
    * digest) → **MinHash-band NEAR-DUP removal** (the
    * `dedup_minhash_pairs` pipeline — 3-shingle sets, r=2/b=2 bands,
    * banded candidate equi-join, exact shingle-Jaccard ≥ 0.6 confirm —
    * with the SemDeDup keep-lowest survivor rule `dedup_semantic_keep`
    * uses: the LARGER id of every confirmed pair drops; pairwise, not
    * transitive — a chain a~b~c with a<b<c keeps only a, since both b
    * and c appear as a larger side) → temperature resampling (α = 1/2,
    * 80% budget) of the near-dup survivors → per-source report with
    * the new n_neardup_kept tier between n_unique and n_sampled.
    *
    * This is `silver/transformer.py:1508-1514`'s latest-wins record
    * dedup generalized corpus-wide: records drop by key equality,
    * documents drop by similarity, and the funnel now exercises both.
    *
    * Scale shape: the near-dup stage adds exactly the pair pipeline's
    * cost — one band shuffle keyed (band_idx, band_val) over the
    * EXACT-UNIQUE SURVIVORS only (already ~halved by the digest stage),
    * a bucket-bounded candidate join, and a shingle fetch AFTER the
    * pair distinct; the removal anti-joins back on doc_id. Nothing
    * all-pairs, no new global window — at 100 TB the stage inherits
    * the same census-tunable band width as every LSH pipeline. */
  private val e2eCurationFunnelV2: Q = (s, d) => {
    val spec = DedupQueries.MinhashPairParams.map { case (a, b) => s"$a,$b" }.mkString(";")
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    val corpus = docs
      .union(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("source"), col("text")))
      .union(docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 400000).as("doc_id"), col("source"),
          expr("concat_ws(' ', slice(split(text, ' '), 2, size(split(text, ' ')) - 1))")
            .as("text")))
    // materialize the two tier frames each downstream stage re-reads:
    // without the checkpoints the flagged subtree (3-way union + sha2 +
    // digest window) replicates MULTIPLICATIVELY through the band
    // self-join and the two shingle-set fetch joins — the before-plan
    // (plans/r20/_before/e2e_curation_funnel_v2.txt) scanned
    // documents.parquet 90×; after, each tier computes once (r20,
    // guide §7.2 duplicated-subtree check). Same rows, same hash.
    val flagged = corpus
      .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
      .withColumn("digest", sha2(col("text"), 256))
      .withColumn("q", col("n_words") >= 10)
      .withColumn("keeper_id",
        min(when(col("q"), col("doc_id"))).over(Window.partitionBy("digest")))
      .withColumn("u", col("q") && col("doc_id") === col("keeper_id"))
      .localCheckpoint()
    val shingled = flagged.filter(col("u"))
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
      .filter(size(col("tokens")) >= 3)
      .selectExpr("doc_id", "graft_shingle_set(graft_word_fps(tokens)) AS shset")
      .localCheckpoint()
    val sigs = shingled.selectExpr("doc_id", s"graft_minhash(shset, '$spec') AS sig")
      .selectExpr("doc_id",
        s"(sig[0] * 31 + sig[1]) % $P AS band_0",
        s"(sig[2] * 31 + sig[3]) % $P AS band_1")
    val bandRows = sigs.selectExpr("doc_id",
      "posexplode(array(band_0, band_1)) AS (band_idx, band_val)")
    val candidates = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val removed = candidates
      .join(shingled.select(col("doc_id").as("id_a"), col("shset").as("set_a")), "id_a")
      .join(shingled.select(col("doc_id").as("id_b"), col("shset").as("set_b")), "id_b")
      .selectExpr("id_b",
        "CAST(size(array_intersect(set_a, set_b)) AS DOUBLE) / " +
          "(size(set_a) + size(set_b) - size(array_intersect(set_a, set_b))) AS j")
      .filter(col("j") >= 0.6)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("nd_removed", lit(true))
    val withNd = flagged.join(removed, Seq("doc_id"), "left")
      .withColumn("nd", col("u") && col("nd_removed").isNull)
    val rates = withNd.filter(col("nd"))
      .groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("srt", floor(sqrt(col("n")) * 1000000).cast("long"))
    val total = rates.agg(sum("srt").as("total"))
    val rateBp = rates.crossJoin(broadcast(total))
      .withColumn("rate_bp", expr("(8000 * srt) DIV total"))
      .select("source", "rate_bp")
    withNd
      .join(broadcast(rateBp), Seq("source"), "left")
      .withColumn("keep", col("nd") &&
        expr("graft_str_fp(concat('cur||', CAST(doc_id AS STRING))) % 10000") < col("rate_bp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("u"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("nd"), 1L).otherwise(0L)).as("n_neardup_kept"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        coalesce(sum(when(col("keep"), col("n_words"))), lit(0L)).as("sampled_tokens"))
      .orderBy("source")
  }

  val queries: Seq[(String, Q)] = Seq(
    "search_hybrid" -> searchHybrid,
    "search_hybrid_lang" -> searchHybridLang,
    "search_hybrid_rrf" -> searchHybridRrf,
    "search_context_filter" -> searchContextFilter,
    "search_rag_context" -> searchRagContext,
    "e2e_curation_funnel" -> e2eCurationFunnel,
    "e2e_curation_funnel_v2" -> e2eCurationFunnelV2,
  )

  val oracles: Map[String, String] = Map(
    "e2e_curation_funnel" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000 AS doc_id, source, text FROM documents
         |  WHERE doc_id % 10 = 0),
         |flagged AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    sha256(text) AS digest,
         |    len(string_split(text, ' ')) >= 10 AS q
         |  FROM corpus),
         |kept AS (
         |  SELECT *,
         |    min(CASE WHEN q THEN doc_id END)
         |      OVER (PARTITION BY digest) AS keeper_id
         |  FROM flagged),
         |u AS (SELECT *, q AND doc_id = keeper_id AS uniq FROM kept),
         |counts AS (
         |  SELECT source, count(*) AS n,
         |    CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS srt
         |  FROM u WHERE uniq GROUP BY source),
         |t AS (SELECT CAST(sum(srt) AS BIGINT) AS total FROM counts),
         |r AS (SELECT source, (8000 * srt) // total AS rate_bp FROM counts, t),
         |sampled AS (
         |  SELECT u.*,
         |    u.uniq AND (${duckFp("'cur||' || CAST(doc_id AS VARCHAR)")} % 10000
         |      < r.rate_bp) AS keep
         |  FROM u LEFT JOIN r USING (source))
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_corpus,
         |  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(coalesce(sum(CASE WHEN keep THEN n_words END), 0) AS BIGINT)
         |    AS sampled_tokens
         |FROM sampled GROUP BY source ORDER BY source""".stripMargin,
    "e2e_curation_funnel_v2" -> {
      val duckMinhV2 = DedupQueries.MinhashPairParams.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(shset, x -> ($a * x + $b) % $P)) AS minh${i + 1}"
      }
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000 AS doc_id, source, text FROM documents
         |  WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 400000 AS doc_id, source,
         |    array_to_string(string_split(text, ' ')[2:], ' ') AS text
         |  FROM documents WHERE doc_id % 15 = 0),
         |flagged AS (
         |  SELECT doc_id, source, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    sha256(text) AS digest,
         |    len(string_split(text, ' ')) >= 10 AS q
         |  FROM corpus),
         |kept AS (
         |  SELECT *,
         |    min(CASE WHEN q THEN doc_id END)
         |      OVER (PARTITION BY digest) AS keeper_id
         |  FROM flagged),
         |u AS (SELECT *, q AND doc_id = keeper_id AS uniq FROM kept),
         |wf AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '),
         |    w -> ${duckFp("w")}) AS wfps
         |  FROM u WHERE uniq AND len(string_split(text, ' ')) >= 3),
         |shingled AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM wf),
         |sigs AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhV2.mkString(", ")} FROM shingled)),
         |cand AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM sigs x JOIN sigs y ON x.band_0 = y.band_0 AND x.doc_id < y.doc_id
         |  UNION
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM sigs x JOIN sigs y ON x.band_1 = y.band_1 AND x.doc_id < y.doc_id),
         |confirmed AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
         |      / (len(sa.shset) + len(sb.shset)
         |         - len(list_intersect(sa.shset, sb.shset))) AS j
         |  FROM cand
         |  JOIN shingled sa ON sa.doc_id = id_a
         |  JOIN shingled sb ON sb.doc_id = id_b),
         |removed AS (
         |  SELECT DISTINCT id_b AS doc_id FROM confirmed WHERE j >= 0.6),
         |nd AS (
         |  SELECT u.*, uniq AND removed.doc_id IS NULL AS ndk
         |  FROM u LEFT JOIN removed USING (doc_id)),
         |counts AS (
         |  SELECT source, count(*) AS n,
         |    CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS srt
         |  FROM nd WHERE ndk GROUP BY source),
         |t AS (SELECT CAST(sum(srt) AS BIGINT) AS total FROM counts),
         |r AS (SELECT source, (8000 * srt) // total AS rate_bp FROM counts, t),
         |sampled AS (
         |  SELECT nd.*,
         |    nd.ndk AND (${duckFp("'cur||' || CAST(doc_id AS VARCHAR)")} % 10000
         |      < r.rate_bp) AS keep
         |  FROM nd LEFT JOIN r USING (source))
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_corpus,
         |  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN ndk THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_kept,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(coalesce(sum(CASE WHEN keep THEN n_words END), 0) AS BIGINT)
         |    AS sampled_tokens
         |FROM sampled GROUP BY source ORDER BY source""".stripMargin
    },
    "search_hybrid" ->
      s"""WITH tf AS (
         |  SELECT doc_id, ${Bm25Scoring.duckTfCols.mkString(",\n    ")},
         |    ($duckSum * 0.1) / (sqrt($duckSumSq) * 0.8) AS vec
         |  FROM documents JOIN embeddings ON doc_id = vec_id),
         |stats AS (
         |  SELECT ${Bm25Scoring.duckStatCols.mkString(",\n    ")}
         |  FROM tf),
         |scored AS (
         |  SELECT doc_id, vec, (
         |    ${Bm25Scoring.duckScore}
         |  ) AS lex
         |  FROM tf, stats)
         |SELECT doc_id,
         |  round(0.5 * (lex / (SELECT max(lex) FROM scored))
         |    + 0.5 * (vec / (SELECT max(vec) FROM scored)), 6) AS fused_score
         |FROM scored ORDER BY fused_score DESC, doc_id ASC LIMIT 20""".stripMargin,
    "search_hybrid_rrf" ->
      // branch scoring mirrors search_hybrid; ranks via row_number over
      // each branch's top-20 (the Spark side counts strictly-better rows
      // instead — identical on e6-integer keys with doc_id tie-break)
      s"""WITH tf AS (
         |  SELECT doc_id, ${Bm25Scoring.duckTfCols.mkString(",\n    ")},
         |    ($duckSum * 0.1) / (sqrt($duckSumSq) * 0.8) AS vec
         |  FROM documents JOIN embeddings ON doc_id = vec_id),
         |stats AS (
         |  SELECT ${Bm25Scoring.duckStatCols.mkString(",\n    ")}
         |  FROM tf),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(floor(vec * 1000000) AS BIGINT) AS vec_e6,
         |    CAST(floor((
         |    ${Bm25Scoring.duckScore}
         |    ) * 1000000) AS BIGINT) AS lex_e6
         |  FROM tf, stats),
         |lex_top AS (
         |  SELECT doc_id, CAST(row_number() OVER
         |      (ORDER BY lex_e6 DESC, doc_id ASC) AS BIGINT) AS lex_rank
         |  FROM (SELECT doc_id, lex_e6 FROM scored
         |        ORDER BY lex_e6 DESC, doc_id ASC LIMIT 20)),
         |vec_top AS (
         |  SELECT doc_id, CAST(row_number() OVER
         |      (ORDER BY vec_e6 DESC, doc_id ASC) AS BIGINT) AS vec_rank
         |  FROM (SELECT doc_id, vec_e6 FROM scored
         |        ORDER BY vec_e6 DESC, doc_id ASC LIMIT 20)),
         |fused AS (
         |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
         |    CAST(coalesce(v.vec_rank, 0) AS BIGINT) AS vec_rank,
         |    CAST(floor((coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
         |      + coalesce(1.0 / (60.0 + v.vec_rank), 0.0))
         |      * 100000000) AS BIGINT) AS rrf_e8
         |  FROM lex_top l FULL OUTER JOIN vec_top v ON l.doc_id = v.doc_id)
         |SELECT doc_id, lex_rank, vec_rank, rrf_e8
         |FROM fused ORDER BY rrf_e8 DESC, doc_id ASC LIMIT 10""".stripMargin,
    "search_hybrid_lang" ->
      s"""WITH tf AS (
         |  SELECT doc_id, lang, ${Bm25Scoring.duckTfCols.mkString(",\n    ")},
         |    ($duckSum * 0.1) / (sqrt($duckSumSq) * 0.8) AS vec
         |  FROM documents JOIN embeddings ON doc_id = vec_id),
         |stats AS (
         |  SELECT ${Bm25Scoring.duckStatCols.mkString(",\n    ")}
         |  FROM tf),
         |scored AS (
         |  SELECT doc_id, lang, vec, (
         |    ${Bm25Scoring.duckScore}
         |  ) AS lex
         |  FROM tf, stats),
         |weighted AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN lang = 'en' THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.2 AS DOUBLE) END AS w_lex,
         |    lex / (SELECT max(lex) FROM scored) AS lex_n,
         |    vec / (SELECT max(vec) FROM scored) AS vec_n
         |  FROM scored)
         |SELECT doc_id, lang,
         |  CAST(floor((w_lex * lex_n + (CAST(1.0 AS DOUBLE) - w_lex) * vec_n) * 1000000)
         |    AS BIGINT) AS fused_e6
         |FROM weighted ORDER BY fused_e6 DESC, doc_id ASC LIMIT 20""".stripMargin,
    "search_rag_context" ->
      s"""WITH tf AS (
         |  SELECT doc_id, text, ${Bm25Scoring.duckTfCols.mkString(",\n    ")}
         |  FROM documents),
         |stats AS (
         |  SELECT ${Bm25Scoring.duckStatCols.mkString(",\n    ")}
         |  FROM tf),
         |top AS (
         |  SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
         |    (length(text) >= 60
         |      AND len(regexp_extract_all(text, '[{};=]')) < 3
         |      AND dl >= 10) AS usable,
         |    CAST(floor((
         |      ${Bm25Scoring.duckScore}
         |    ) * 10000) AS BIGINT) AS score_e4
         |  FROM tf, stats
         |  ORDER BY score_e4 DESC, doc_id ASC LIMIT 20),
         |kept AS (
         |  SELECT doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY score_e4 DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM top WHERE usable)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM top) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept,
         |  CAST(coalesce(sum(CASE WHEN cum_before < 1000 THEN 1 END), 0)
         |    AS BIGINT) AS n_packed,
         |  CAST(coalesce(sum(CASE WHEN cum_before < 1000 THEN n_tokens END), 0)
         |    AS BIGINT) AS context_tokens,
         |  CAST(coalesce(sum(CASE WHEN cum_before < 1000 THEN doc_id END), 0)
         |    AS BIGINT) AS packed_id_sum
         |FROM kept""".stripMargin,
    "search_context_filter" ->
      """SELECT CASE WHEN length(text) < 60 THEN 'too_short'
        |  WHEN len(regexp_extract_all(text, '[{};=]')) >= 3 THEN 'code_heavy'
        |  WHEN len(string_split(text, ' ')) < 10 THEN 'thin'
        |  ELSE 'kept' END AS reason,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY reason ORDER BY reason""".stripMargin,
  )
}
