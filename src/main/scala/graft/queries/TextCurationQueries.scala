package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared._

/** Text-analysis + CURATION tier (split from PipelineQueries in r10;
  * the split/mixture samplers moved to [[SamplerQueries]] in r14):
  * quality scoring and Gopher/C4 rules, language-ID, token counts,
  * fingerprints, PII masking, benchmark decontamination, OOV rate,
  * HTML stripping, and winnowing fingerprints. Every entry is
  * hash-verified against the DuckDB oracles below (the composed funnel
  * lives in [[ComposedQueries]] since the r12 split).
  */
private[queries] object TextCurationQueries {

  /** Quality scoring: word count, average word length, stopword ratio,
    * composite score (transformer.py:340-368 reshaped for `documents`).
    * The stopword/length census runs through the fused native
    * `graft_stopword_stats` kernel (one codegen'd array pass; the
    * filter/aggregate lambda HOFs it replaces are CodegenFallback and
    * split the scan's whole-stage span — VERDICT r8 #8). The DuckDB
    * oracle keeps the list-fold form; TextSketchSpec pins them equal. */
  private val textQuality: Q = (s, d) =>
    Tables.documents(s, d)
      .selectExpr("doc_id", "n_chars", "split(text, ' ') AS tokens")
      .selectExpr("doc_id", "n_chars",
        "size(tokens) AS n_words",
        s"graft_stopword_stats(tokens, '$StopwordsCsv') AS sw")
      .selectExpr("doc_id", "n_chars", "n_words",
        "sw[0] AS n_stopwords", "sw[1] AS total_word_len")
      // fixed-point via floor: rational scores can land exactly on the
      // round-half grid where Spark (HALF_UP) and DuckDB disagree; floor
      // of the identical IEEE double is engine-independent.
      // D-suffixed literals: bare 100.0 is a DECIMAL literal in Spark SQL
      // and int/decimal stays exact decimal — a 1-ulp divergence from the
      // oracle's double math at floor boundaries.
      .selectExpr("doc_id", "n_words",
        "CAST(floor(CAST(n_stopwords AS DOUBLE) / n_words * 10000) AS BIGINT) AS stopword_ratio_e4",
        "CAST(floor((0.4D * least(1.0D, n_words / 100.0D) " +
          "+ 0.3D * (1.0D - CAST(n_stopwords AS DOUBLE) / n_words) " +
          "+ 0.3D * least(1.0D, (CAST(total_word_len AS DOUBLE) / n_words) / 8.0D)) * 10000) AS BIGINT) AS quality_score_e4")
      .orderBy("doc_id")

  /** Unigram LOG-PROB scoring — the relational re-expression of
    * CCNet-style perplexity filtering (Wenzek et al. 2020 filter
    * CommonCrawl by LM perplexity; the corpus-derived unigram model is
    * its join-aggregate analogue, no neural LM needed): build the
    * unigram distribution FROM the corpus (one token-count aggregate),
    * then score every document by its mean negative log-likelihood —
    * low NLL ≈ ordinary prose, high NLL ≈ gibberish/boilerplate-rare
    * vocabulary, exactly the tails a perplexity filter trims. Scale
    * shape: explode → token-keyed count aggregate (partial/final
    * map-side combine), token equi-join of occurrences with the vocab
    * (co-partitioned on the join key — at 100 TB both sides shuffle
    * once on `tok`), 1-row total broadcast. Float discipline: each
    * token's ln(cnt/total) collapses to an e6 fixed-point INTEGER
    * before the per-doc sum, so the cross-row summation is exact
    * integer math — aggregation order can never move the hash (the
    * same reason the funnel sums integer grids, not doubles). */
  private val textUnigramLogprob: Q = (s, d) => {
    // shared tokenized-corpus artifacts (r21, see LmQueries.lmPositions):
    // one row per token occurrence in both shapes, counts unchanged
    val toks = LmQueries.lmPositions(s, d).select("doc_id", "tok")
    val vocab = LmQueries.lmUnigrams(s, d).select(col("tok"), col("cu").as("cnt"))
    val total = vocab.agg(sum("cnt").as("n_total"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .selectExpr("doc_id",
        "CAST(floor(ln(CAST(cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS lp_e6")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lp_e6").as("sum_lp_e6"))
      .selectExpr("doc_id", "n_tokens",
        "CAST(floor(CAST(-sum_lp_e6 AS DOUBLE) / n_tokens / 100.0D) AS BIGINT) AS nll_e4")
      .orderBy("doc_id")
  }

  /** Interpolated BIGRAM log-prob scoring — the next model up from
    * [[textUnigramLogprob]] on the CCNet path (Wenzek et al. use a
    * 5-gram KenLM; the relational mechanics are identical at any
    * order): token i ≥ 2 scores p = 0.7·P(wᵢ|wᵢ₋₁) + 0.3·P(wᵢ)
    * (fixed-weight Jelinek-Mercer interpolation — the backoff that
    * keeps unseen-bigram probability non-zero), the first token scores
    * its unigram. Same determinism discipline as the unigram entry:
    * probabilities are exact-integer ratios combined in one fixed
    * IEEE expression order, ln collapses to an e6 INTEGER per token
    * before the per-doc sum, so aggregation order can never move the
    * hash. Scale shape: two count aggregates (unigram, bigram — both
    * partial/final), then broadcast-sized joins of the exploded corpus
    * against its own count tables; the bigram table is the big dim at
    * web scale, where it becomes the same hash-shuffle equi-join. */
  private val textBigramLogprob: Q = (s, d) => {
    // shared tokenized-corpus artifacts (r21, see LmQueries.lmPositions)
    val pos = LmQueries.lmPositions(s, d).select("doc_id", "pos", "tok", "prev")
    val uni = LmQueries.lmUnigrams(s, d)
    val tot = uni.agg(sum("cu").as("nt"))
    val bi = LmQueries.lmBigrams(s, d)
    pos
      .join(uni, "tok")
      .join(uni.select(col("tok").as("prev"), col("cu").as("cp")), Seq("prev"), "left")
      .join(bi, Seq("prev", "tok"), "left")
      .crossJoin(broadcast(tot))
      .selectExpr("doc_id",
        "CAST(floor(ln(CASE WHEN prev IS NULL THEN CAST(cu AS DOUBLE) / nt " +
          "ELSE 0.7D * (CAST(cb AS DOUBLE) / cp) + 0.3D * (CAST(cu AS DOUBLE) / nt) END) " +
          "* 1000000) AS BIGINT) AS lp_e6")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lp_e6").as("sum_lp_e6"))
      .selectExpr("doc_id", "n_tokens",
        "CAST(floor(CAST(-sum_lp_e6 AS DOUBLE) / n_tokens / 100.0D) AS BIGINT) AS nll_e4")
      .orderBy("doc_id")
  }

  /** Quality-score CALIBRATION per source — the fix for the standard
    * curation failure mode: a single global quality threshold over
    * heterogeneous sources keeps whatever the scorer happens to like
    * (here the raw ≥0.6 cut keeps wildly different fractions per
    * source), because quality scorers are per-domain miscalibrated.
    * Production pipelines therefore threshold on the PER-SOURCE
    * percentile: percent_rank of the score within each source (the
    * Window partitions on `source`, so rank work is per-source and
    * scale-safe — no global sort), keep the top half everywhere. The
    * output contrasts both policies per source (n_kept_cal ≈ n_docs/2
    * uniformly vs n_kept_raw all over the place) plus the kept-score
    * floor the calibrated cut implies — i.e. what raw score "top half"
    * means in each source's own distribution. percent_rank ties get
    * equal percentiles (score-only ordering), so the result is
    * partitioning- and tie-order-independent; e4 fixed point via floor
    * keeps the rational (rank-1)/(n-1) grid engine-exact. */
  private val textQualityCalibrate: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .selectExpr("doc_id", "source", "split(text, ' ') AS tokens")
      .selectExpr("doc_id", "source", "size(tokens) AS n_words",
        s"graft_stopword_stats(tokens, '$StopwordsCsv') AS sw")
      .selectExpr("doc_id", "source",
        "CAST(floor((0.4D * least(1.0D, n_words / 100.0D) " +
          "+ 0.3D * (1.0D - CAST(sw[0] AS DOUBLE) / n_words) " +
          "+ 0.3D * least(1.0D, (CAST(sw[1] AS DOUBLE) / n_words) / 8.0D)) " +
          "* 10000) AS BIGINT) AS q_e4")
    val w = Window.partitionBy("source").orderBy("q_e4")
    scored
      .withColumn("pct_e4", floor(percent_rank().over(w) * 10000).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pct_e4") >= 5000, 1L).otherwise(0L)).as("n_kept_cal"),
        sum(when(col("q_e4") >= 6000, 1L).otherwise(0L)).as("n_kept_raw"),
        min(when(col("pct_e4") >= 5000, col("q_e4"))).as("min_q_kept"))
      .orderBy("source")
  }

  /** Language-ID heuristic (chatbot_api.py:69-77 reshaped): stopword
    * presence ⇒ 'en', else 'other'; confusion matrix vs the labeled
    * `lang` column. Stopword census via the native fused kernel (see
    * [[textQuality]]). */
  private val textLangid: Q = (s, d) =>
    Tables.documents(s, d)
      .selectExpr("lang",
        s"CASE WHEN graft_stopword_stats(split(text, ' '), '$StopwordsCsv')[0] >= 1 " +
          "THEN 'en' ELSE 'other' END AS detected")
      .groupBy("lang", "detected").agg(count(lit(1)).as("n"))
      .orderBy("lang", "detected")

  /** Token counting: whitespace split vs BPE-ish regex token count. */
  private val textTokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .selectExpr("doc_id",
        "size(split(text, ' ')) AS n_ws_tokens",
        "regexp_count(text, '[a-z0-9]+') AS n_re_tokens")
      .orderBy("doc_id")

  /** Rolling-hash document fingerprint (portable char fold; native
    * graft_str_fp == the aggregate() fold bitwise, TextSketchSpec). */
  private val textFingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .selectExpr("doc_id", "graft_str_fp(text) AS fingerprint")
      .orderBy("doc_id")

  /** PII detection + masking — the redaction pass every training-data
    * pipeline runs before release. PII is INJECTED deterministically
    * (docs ≡ 0 mod 7 get an email + phone suffix — the synthetic corpus
    * has none), then detected and masked with regexes kept inside the
    * RE2 ∩ java.util.regex common dialect so engines agree. The scan is
    * one codegen'd projection pass: no UDF, no second scan — at 100 TB
    * this runs at parquet-read speed. Output pins the masked text via
    * length sums, not raw strings (masked docs stay large). */
  private val textPiiMask: Q = (s, d) => {
    val emailRe = "[a-z0-9]+@[a-z0-9.]+\\\\.[a-z]+"
    val phoneRe = "\\\\+1-555-[0-9]{4}"
    Tables.documents(s, d)
      .withColumn("txt",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id"),
            lit("@mail.example.org or call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")))
      .selectExpr("doc_id", "source",
        s"regexp_count(txt, '$emailRe') AS n_emails",
        s"regexp_count(txt, '$phoneRe') AS n_phones",
        s"length(regexp_replace(regexp_replace(txt, '$emailRe', '[EMAIL]'), '$phoneRe', '[PHONE]')) AS masked_len")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") + col("n_phones") > 0, 1).otherwise(0)).as("n_pii_docs"),
        sum("n_emails").as("n_emails"), sum("n_phones").as("n_phones"),
        sum("masked_len").as("masked_len_total"))
      .orderBy("source")
  }

  /** Benchmark decontamination — flag corpus documents sharing 3-gram
    * shingles with a probe set (the held-out benchmark): probe shingles
    * are BROADCAST (eval suites are KBs against a 100 TB corpus), the
    * overlap is a map-side equi-join on the fused 64-bit shingle keys —
    * the corpus never shuffles, and the only aggregation is per
    * (source) over the matches. The DuckDB oracle joins the string
    * shingles themselves, so the hash layer stays a join-key detail. */
  private val textDecontaminate: Q = (s, d) => {
    val probeIds = Seq(3L, 77L, 123L)
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "source", "split(text, ' ') AS tokens")
      .filter(size(col("tokens")) >= 3)
    val probes = docs.filter(col("doc_id").isin(probeIds: _*))
      .selectExpr("explode(graft_shingle_hash64(tokens)) AS sh").distinct()
    docs.selectExpr("doc_id", "source", "explode(graft_shingle_hash64(tokens)) AS sh")
      .join(broadcast(probes), "sh")
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_contaminated"),
        count(lit(1)).as("n_shingle_hits"))
      .orderBy("source")
  }

  /** Bloom-prefiltered decontamination — the shape `text_decontaminate`
    * grows into when the probe set outgrows an exact broadcast (a full
    * eval-suite union is tens of millions of shingles: hundreds of MB
    * as a broadcast hash set, single-digit MB at ~10 bits/key as a
    * Bloom): the probe shingles fold into an IN-PLAN Bloom sketch
    * (`graft_bloom_agg`, a TypedImperativeAggregate whose partial
    * bitmaps OR-merge — no driver-side key collect), the 1-row sketch
    * broadcasts, and the corpus-side scan filters through the codegen'd
    * `graft_bloom_contains` probe BEFORE any shuffle — only survivors
    * reach the exact confirm join that removes Bloom false positives.
    * No false negatives ⇒ prefilter + confirm ≡ the plain exact join,
    * so the DuckDB oracle is the ordinary join SQL and a green hash
    * proves the reduction is semantics-free; BloomSketchSpec pins the
    * FPR and measures the pruning. Distinct probe fixture (doc_ids
    * 5/42/200) from `text_decontaminate`'s, so the two entries pin
    * different outputs. */
  private val textDecontamBloom: Q = (s, d) => {
    val probeIds = Seq(5L, 42L, 200L)
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "source", "split(text, ' ') AS tokens")
      .filter(size(col("tokens")) >= 3)
    val probes = docs.filter(col("doc_id").isin(probeIds: _*))
      .selectExpr("explode(graft_shingle_hash64(tokens)) AS sh").distinct()
    val sketch = probes.agg(expr("graft_bloom_agg(sh, 131072, 6)").as("bloom"))
    val corpusSh = docs
      .selectExpr("doc_id", "source", "explode(graft_shingle_hash64(tokens)) AS sh")
    // scalar subquery instead of a broadcast cross join (r21): the
    // joined form re-read the 16 KiB sketch from the joined UnsafeRow
    // per shingle row (getBinary copies); as a scalar the bloom is one
    // codegen constant and the corpus scan allocates nothing per row
    val survivors = corpusSh.filter(
      call_function("graft_bloom_contains", sketch.scalar(), col("sh")))
    // exact confirm: the probe set is no longer broadcast-hinted — at
    // the scale where the Bloom path matters it shuffle-joins, and the
    // shuffled corpus side is only the Bloom survivors
    survivors.join(probes, "sh")
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_contaminated"),
        count(lit(1)).as("n_shingle_hits"))
      .orderBy("source")
  }

  /** Gopher/C4-style repetition + symbol quality rules — the curation
    * filters a pretraining pipeline runs before anything model-based:
    * duplicate-token fraction, most-frequent-bigram coverage, and
    * symbol(non-alpha) ratio, each in exact basis points, folded into a
    * keep/drop decision. Per-doc stats are one codegen'd projection;
    * the bigram mode is a (doc_id, bigram) partial-agg groupBy — the
    * shuffle key includes the bigram so one hot document cannot skew a
    * reducer, and nothing is all-pairs. Thresholds follow the Gopher
    * paper's shape (dup fraction, top-2-gram coverage, symbol ratio).
    */
  private val textQualityRules: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tokens"))
    val base = toks.select(col("doc_id"),
      size(col("tokens")).cast("long").as("n_tokens"),
      size(array_distinct(col("tokens"))).cast("long").as("n_distinct"),
      length(col("text")).cast("long").as("n_chars"),
      length(regexp_replace(col("text"), "[a-zA-Z ]", "")).cast("long").as("n_nonalpha"))
    val topBigram = toks
      .select(col("doc_id"), posexplode(col("tokens")).as(Seq("pos", "tok")))
      .withColumn("nxt",
        lead("tok", 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("nxt").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_n"))
    base.join(topBigram, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        floor((col("n_tokens") - col("n_distinct")) * 10000 / col("n_tokens"))
          .as("dup_token_bp"),
        floor(coalesce(col("top_bigram_n"), lit(0L)) * 10000
          / greatest(col("n_tokens") - 1, lit(1L))).as("top_bigram_bp"),
        floor(col("n_nonalpha") * 10000 / col("n_chars")).as("symbol_bp"))
      .withColumn("keep",
        col("dup_token_bp") <= lit(6000L) && col("top_bigram_bp") <= lit(1800L) &&
          col("symbol_bp") <= lit(1000L))
      .orderBy("doc_id")
  }

  /** Out-of-vocabulary rate per document against a CORPUS-DERIVED
    * vocabulary (top-16 tokens by global frequency, count-desc /
    * token-asc tiebreak so the cutoff is deterministic in both
    * engines): the rare-token-ratio quality signal — high OOV flags
    * gibberish, boilerplate codes, or wrong-language text. Two partial-
    * aggregatable shuffles (token census, per-doc tally); the vocab is
    * 16 rows broadcast back. At a real corpus the vocab is top-64k and
    * lives in a dim table — same plan, bigger broadcast. */
  private val textOovRate: Q = (s, d) => {
    // shared tokenized-corpus artifacts (r21, see LmQueries.lmPositions)
    val toks = LmQueries.lmPositions(s, d).select("doc_id", "tok")
    val vocab = LmQueries.lmUnigrams(s, d).select(col("tok"), col("cu").as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(16)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp",
        floor(col("n_oov") * lit(10000.0) / col("n_tokens")).cast("long"))
      .orderBy("doc_id")
  }

  /** HTML boilerplate stripping — the extraction step upstream of every
    * web-scraped training corpus (the trafilatura-lite tier): drop
    * script/style bodies and comments, strip tags, decode the common
    * entities (amp LAST so one level decodes, never two), collapse
    * whitespace. Fixture wraps every doc_id % 3 == 0 in a full page
    * shell with a script, style, comment, attributes and entities.
    * Patterns are conservative (lazy quantifiers, (?s), no
    * backreferences) so Java regex and RE2 agree. Verified by
    * per-source doc counts, cleaned-length sums, and an
    * order-independent content digest (sum of per-row rolling fps —
    * integer math, engine-exact). Per-row regex work, shuffle only at
    * the final per-source aggregate. */
  private val textHtmlStrip: Q = (s, d) => {
    val wrapped = Tables.documents(s, d).selectExpr("doc_id", "source",
      "CASE WHEN doc_id % 3 = 0 THEN concat(" +
        "'<html><head><title>T ', CAST(doc_id AS STRING), '</title>', " +
        "'<script type=\"text/javascript\">var x = 1 &amp;&amp; 2;</script>', " +
        "'<style>p { color: red; }</style></head><body>', " +
        "'<h1>Head&quot;ing</h1><p>', text, '</p><!-- hidden comment -->', " +
        "'<div class=\"foo\">tail &lt;escaped&gt; &amp; done</div></body></html>') " +
        "ELSE text END AS raw")
    val clean = Seq(
      "(?s)<script[^>]*>.*?</script>" -> " ",
      "(?s)<style[^>]*>.*?</style>" -> " ",
      "(?s)<!--.*?-->" -> " ",
      "<[^>]+>" -> " ",
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&amp;" -> "&",
      "\\s+" -> " ")
      .foldLeft(col("raw")) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }
    wrapped
      .withColumn("clean", trim(clean))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") % 3 === 0, 1L).otherwise(0L)).as("n_wrapped"),
        sum(length(col("clean"))).as("sum_clean_len"),
        sum(expr("graft_str_fp(clean)")).as("fp_sum"))
      .orderBy("source")
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003, the MOSS algorithm — the published LOCAL fingerprint
    * selection with a guarantee the rolling-hash `text_fingerprint`
    * lacks: any shared substring of length ≥ w+k-1 tokens is caught,
    * because every window of w consecutive k-gram hashes selects its
    * minimum — rightmost on ties — and matching text yields matching
    * windows): per doc, k-gram hashes via the engine-portable
    * `graft_str_fp` char fold (NOT the 64-bit FNV shingle key — its
    * wrapping multiply has no overflow-free DuckDB twin; the mod-P
    * fold does), then the per-window argmin selection as nested HOFs,
    * then the DISTINCT selected positions are the fingerprint set.
    * Everything is per-row projection work — no shuffle until the
    * final orderBy; at 100 TB the fingerprint sets feed the same
    * banded equi-joins the MinHash pipeline uses, with the winnowing
    * guarantee in place of probabilistic recall. Selection arithmetic
    * is pure integer compares, so both engines agree exactly. */
  private val textWinnowFp: Q = (s, d) => {
    val K = 3; val W = 4
    Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      // guard BEFORE the HOFs: Spark's sequence(1, n) flips descending
      // for n < 1, which would feed slice() illegal starts on short docs
      .filter(size(col("tokens")) >= K + W - 1)
      .withColumn("hashes", expr(winnowHashesExpr(K)))
      .withColumn("sels", expr(winnowSelsExpr(W)))
      .selectExpr("doc_id",
        "CAST(size(hashes) AS BIGINT) AS n_grams",
        "CAST(size(sels) AS BIGINT) AS n_fps",
        "CAST(aggregate(sels, 0L, (a, p) -> a + p) AS BIGINT) AS pos_sum",
        "CAST(aggregate(sels, 0L, (a, p) -> a + element_at(hashes, p)) AS BIGINT) AS fp_sum")
      .orderBy("doc_id")
  }

  val queries: Seq[(String, Q)] = Seq(
    "text_winnow_fp" -> textWinnowFp,
    "text_html_strip" -> textHtmlStrip,
    "text_oov_rate" -> textOovRate,
    "text_quality" -> textQuality,
    "text_quality_calibrate" -> textQualityCalibrate,
    "text_unigram_logprob" -> textUnigramLogprob,
    "text_bigram_logprob" -> textBigramLogprob,
    "text_langid" -> textLangid,
    "text_token_count" -> textTokenCount,
    "text_fingerprint" -> textFingerprint,
    "text_quality_rules" -> textQualityRules,
    "text_pii_mask" -> textPiiMask,
    "text_decontaminate" -> textDecontaminate,
    "text_decontam_bloom" -> textDecontamBloom,
  )

  val oracles: Map[String, String] = Map(
    "text_winnow_fp" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |g AS (
         |  SELECT doc_id, ${duckWinnowHashes(3)} AS hashes
         |  FROM t WHERE len(tokens) >= 6),
         |f AS (
         |  SELECT doc_id, hashes, ${duckWinnowSels(4)} AS sels
         |  FROM g)
         |SELECT doc_id, CAST(len(hashes) AS BIGINT) AS n_grams,
         |  CAST(len(sels) AS BIGINT) AS n_fps,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), sels),
         |    (ap, pp) -> ap + pp) AS BIGINT) AS pos_sum,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(sels, p2 -> hashes[p2])),
         |    (ah, xh) -> ah + xh) AS BIGINT) AS fp_sum
         |FROM f ORDER BY doc_id""".stripMargin,
    "text_pii_mask" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      text || ' contact u' || CAST(doc_id AS VARCHAR)
        |        || '@mail.example.org or call +1-555-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE text END AS txt
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(txt, '[a-z0-9]+@[a-z0-9.]+\.[a-z]+')) AS n_emails,
        |    len(regexp_extract_all(txt, '\+1-555-[0-9]{4}')) AS n_phones,
        |    length(regexp_replace(
        |      regexp_replace(txt, '[a-z0-9]+@[a-z0-9.]+\.[a-z]+', '[EMAIL]', 'g'),
        |      '\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS masked_len
        |  FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pii_docs,
        |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
        |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
        |  CAST(sum(masked_len) AS BIGINT) AS masked_len_total
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "text_decontaminate" ->
      """WITH docs AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS tokens FROM documents),
        |corpus AS (SELECT * FROM docs WHERE len(tokens) >= 3),
        |shingles AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tokens) - 2),
        |    i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]))) AS shingle
        |  FROM corpus),
        |probes AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id IN (3, 77, 123))
        |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contaminated,
        |  CAST(count(*) AS BIGINT) AS n_shingle_hits
        |FROM shingles JOIN probes USING (shingle)
        |GROUP BY source ORDER BY source""".stripMargin,
    "text_decontam_bloom" ->
      // the ORDINARY exact-join SQL: the Bloom prefilter must be
      // invisible in the result (no false negatives + exact confirm)
      """WITH docs AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS tokens FROM documents),
        |corpus AS (SELECT * FROM docs WHERE len(tokens) >= 3),
        |shingles AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tokens) - 2),
        |    i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]))) AS shingle
        |  FROM corpus),
        |probes AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id IN (5, 42, 200))
        |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contaminated,
        |  CAST(count(*) AS BIGINT) AS n_shingle_hits
        |FROM shingles JOIN probes USING (shingle)
        |GROUP BY source ORDER BY source""".stripMargin,
    "text_quality_rules" ->
      """WITH toks AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS tokens FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS BIGINT) AS n_nonalpha
        |  FROM toks),
        |pairs AS (
        |  SELECT doc_id, tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM (SELECT doc_id, unnest(tokens) AS tok,
        |          unnest(range(len(tokens))) AS pos FROM toks)),
        |bg AS (
        |  SELECT doc_id, max(c) AS top_bigram_n FROM (
        |    SELECT doc_id, tok || ' ' || nxt AS bigram, count(*) AS c
        |    FROM pairs WHERE nxt IS NOT NULL GROUP BY doc_id, bigram)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, n_tokens,
        |  CAST(floor((n_tokens - n_distinct) * 10000 / n_tokens) AS BIGINT)
        |    AS dup_token_bp,
        |  CAST(floor(coalesce(top_bigram_n, 0) * 10000
        |    / greatest(n_tokens - 1, 1)) AS BIGINT) AS top_bigram_bp,
        |  CAST(floor(n_nonalpha * 10000 / n_chars) AS BIGINT) AS symbol_bp,
        |  (floor((n_tokens - n_distinct) * 10000 / n_tokens) <= 6000
        |    AND floor(coalesce(top_bigram_n, 0) * 10000 / greatest(n_tokens - 1, 1)) <= 1800
        |    AND floor(n_nonalpha * 10000 / n_chars) <= 1000) AS keep
        |FROM base b LEFT JOIN bg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok FROM toks GROUP BY tok
        |  ORDER BY count(*) DESC, tok ASC LIMIT 16),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  CAST(floor(n_oov * 10000.0 / n_tokens) AS BIGINT) AS oov_bp
        |FROM per ORDER BY doc_id""".stripMargin,
    "text_html_strip" ->
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 = 0 THEN
         |      '<html><head><title>T ' || CAST(doc_id AS VARCHAR) || '</title>' ||
         |      '<script type="text/javascript">var x = 1 &amp;&amp; 2;</script>' ||
         |      '<style>p { color: red; }</style></head><body>' ||
         |      '<h1>Head&quot;ing</h1><p>' || text || '</p><!-- hidden comment -->' ||
         |      '<div class="foo">tail &lt;escaped&gt; &amp; done</div></body></html>'
         |    ELSE text END AS raw
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, trim(
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(regexp_replace(raw,
         |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
         |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
         |      '(?s)<!--.*?-->', ' ', 'g'),
         |      '<[^>]+>', ' ', 'g'),
         |      '&lt;', '<', 'g'),
         |      '&gt;', '>', 'g'),
         |      '&quot;', '"', 'g'),
         |      '&#39;', '''', 'g'),
         |      '&amp;', '&', 'g'),
         |      '\\s+', ' ', 'g')) AS clean
         |  FROM w)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrapped,
         |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_len,
         |  CAST(sum(${duckFp("clean")}) AS BIGINT) AS fp_sum
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "text_quality" ->
      s"""WITH toks AS (
         |  SELECT doc_id, n_chars, string_split(text, ' ') AS tokens FROM documents),
         |m AS (
         |  SELECT doc_id, n_chars, len(tokens) AS n_words,
         |    len(list_filter(tokens, t -> t IN $StopwordsSql)) AS n_stopwords,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(tokens, w -> CAST(length(w) AS BIGINT))),
         |      (a, x) -> a + x) AS total_word_len
         |  FROM toks)
         |SELECT doc_id, CAST(n_words AS INT) AS n_words,
         |  CAST(floor(CAST(n_stopwords AS DOUBLE) / n_words * 10000) AS BIGINT)
         |    AS stopword_ratio_e4,
         |  CAST(floor((0.4 * least(1.0, n_words / 100.0)
         |    + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / n_words)
         |    + 0.3 * least(1.0, (CAST(total_word_len AS DOUBLE) / n_words) / 8.0)) * 10000)
         |    AS BIGINT) AS quality_score_e4
         |FROM m ORDER BY doc_id""".stripMargin,
    "text_bigram_logprob" ->
      // interpolation written in the identical IEEE expression order as
      // the Spark side; a corpus-derived (prev, tok) pair always exists
      // in the bigram table, so only the first token takes the unigram
      // branch
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, ii.i AS pos, t[ii.i] AS tok,
        |    CASE WHEN ii.i = 1 THEN NULL ELSE t[ii.i - 1] END AS prev
        |  FROM toks, UNNEST(generate_series(1, len(t))) ii(i)),
        |uni AS (SELECT tok, count(*) AS cu FROM pos GROUP BY tok),
        |tot AS (SELECT sum(cu) AS nt FROM uni),
        |bi AS (
        |  SELECT prev, tok, count(*) AS cb FROM pos
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |scored AS (
        |  SELECT p.doc_id,
        |    CAST(floor(ln(CASE WHEN p.prev IS NULL THEN CAST(u.cu AS DOUBLE) / t.nt
        |      ELSE 0.7 * (CAST(b.cb AS DOUBLE) / up.cu)
        |        + 0.3 * (CAST(u.cu AS DOUBLE) / t.nt) END) * 1000000) AS BIGINT) AS lp_e6
        |  FROM pos p
        |  JOIN uni u ON u.tok = p.tok
        |  LEFT JOIN uni up ON up.tok = p.prev
        |  LEFT JOIN bi b ON b.prev = p.prev AND b.tok = p.tok
        |  CROSS JOIN tot t),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    sum(lp_e6) AS sum_lp_e6
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST(floor(CAST(-sum_lp_e6 AS DOUBLE) / n_tokens / 100.0) AS BIGINT) AS nll_e4
        |FROM per_doc ORDER BY doc_id""".stripMargin,
    "text_unigram_logprob" ->
      // ln agrees between Java Math.log and DuckDB libm on this value
      // range (same contract as the BM25 oracles); the e6 floor happens
      // per token BEFORE the sum so both engines add exact integers
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |total AS (SELECT sum(cnt) AS n_total FROM vocab),
        |scored AS (
        |  SELECT t.doc_id,
        |    CAST(floor(ln(CAST(v.cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS lp_e6
        |  FROM toks t JOIN vocab v ON t.tok = v.tok, total),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    sum(lp_e6) AS sum_lp_e6
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST(floor(CAST(-sum_lp_e6 AS DOUBLE) / n_tokens / 100.0) AS BIGINT) AS nll_e4
        |FROM per_doc ORDER BY doc_id""".stripMargin,
    "text_quality_calibrate" ->
      // same score derivation as text_quality; percent_rank within each
      // source (score-only ordering, ties equal) mirrors the Spark
      // window exactly on the e4 integer grid
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS tokens FROM documents),
         |m AS (
         |  SELECT doc_id, source, len(tokens) AS n_words,
         |    len(list_filter(tokens, t -> t IN $StopwordsSql)) AS n_stopwords,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(tokens, w -> CAST(length(w) AS BIGINT))),
         |      (a, x) -> a + x) AS total_word_len
         |  FROM toks),
         |scored AS (
         |  SELECT doc_id, source,
         |    CAST(floor((0.4 * least(1.0, n_words / 100.0)
         |      + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / n_words)
         |      + 0.3 * least(1.0, (CAST(total_word_len AS DOUBLE) / n_words) / 8.0))
         |      * 10000) AS BIGINT) AS q_e4
         |  FROM m),
         |ranked AS (
         |  SELECT source, q_e4,
         |    CAST(floor(percent_rank() OVER
         |      (PARTITION BY source ORDER BY q_e4) * 10000) AS BIGINT) AS pct_e4
         |  FROM scored)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN pct_e4 >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_cal,
         |  CAST(sum(CASE WHEN q_e4 >= 6000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_raw,
         |  CAST(min(CASE WHEN pct_e4 >= 5000 THEN q_e4 END) AS BIGINT) AS min_q_kept
         |FROM ranked GROUP BY source ORDER BY source""".stripMargin,
    "text_langid" ->
      s"""SELECT lang,
         |  CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN $StopwordsSql)) >= 1
         |    THEN 'en' ELSE 'other' END AS detected,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM documents GROUP BY lang, detected ORDER BY lang, detected""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, ${duckFp("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
