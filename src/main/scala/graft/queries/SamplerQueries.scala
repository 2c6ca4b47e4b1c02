package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared._

/** Split / mixture SAMPLER tier (split from TextCurationQueries in r14
  * — registry names and oracles unchanged): the deterministic
  * train/val/test splitter, per-source quota sampling, sequence
  * packing, and the domain / temperature / epoch mixture planners.
  * Every entry is hash-verified against the DuckDB oracles below.
  */
private[graft] object SamplerQueries {

  /** Deterministic stratified train/val/test split — the
    * training-data-curation operator every corpus pipeline needs:
    * assignment is a pure function of the stable doc key (rolling-hash
    * fingerprint mod 100 → 80/10/10), so it is reproducible across
    * runs, engines, and cluster sizes, never samples twice into
    * different sets, and needs NO shuffle to assign (the groupBy here
    * only verifies the per-stratum composition). Keying on
    * doc_id||source keeps the split independent of row order —
    * `rand(seed)` splits are partition-order-dependent and break on
    * repartition. Output pins every assignment (counts + id-sums per
    * source × split). */
  private val splitStratified: Q = (s, d) =>
    Tables.documents(s, d)
      .selectExpr("doc_id", "source",
        "graft_str_fp(concat(CAST(doc_id AS STRING), '||', source)) % 100 AS bucket")
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_id"))
      .orderBy("source", "split")

  /** Deterministic per-source QUOTA sample — exactly k docs per group,
    * chosen by the portable rolling-hash key, so the sample is
    * reproducible across runs, engines, partitionings and cluster
    * sizes (`rand()`/TABLESAMPLE are none of those, and re-sampling a
    * grown corpus keeps previously-chosen docs stable except where a
    * smaller key displaces them). Third sampling mode next to
    * `split_stratified` (rate) and `split_domain_mix` (weights): quota
    * — "exactly 1000 docs per domain for the eval set". The
    * window+filter(rn ≤ k) shape plans into the TopKPerKeyExec bounded
    * heap (O(groups × k) memory, no full per-group sort; asserted in
    * TopKPerKeySpec), and DuckDB replicates the fp key, so exact
    * sample MEMBERSHIP is hash-pinned, not just counts. */
  private val sampleBottomk: Q = (s, d) => {
    val k = 5
    val w = Window.partitionBy("source").orderBy(col("samp_key"), col("doc_id"))
    Tables.documents(s, d)
      .selectExpr("doc_id", "source",
        "graft_str_fp(concat(CAST(doc_id AS STRING), '||sample')) AS samp_key")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .selectExpr("source", "doc_id", "samp_key", "CAST(rn AS BIGINT) AS rn")
      .orderBy("source", "rn")
  }

  /** Concat-and-split sequence packing — how pretraining actually fills
    * context windows: documents are laid out in a deterministic order
    * (doc_id within source) into a continuous token stream, and each
    * doc records which pack (context window) its first token lands in
    * and at what offset. One running-total window per source partition
    * (the w3 shape — shuffle key source, never a global sort); packing
    * is pure arithmetic on the cumsum, so it reproduces bit-identically
    * across cluster sizes. */
  private val packSequences: Q = (s, d) => {
    val capacity = 512L
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / capacity).cast("long").as("pack_id"),
        ((col("cum") - col("n_tokens")) % capacity).as("pack_offset"))
      .orderBy("source", "doc_id")
  }

  /** Domain-mixture sampler — hit a target per-domain mixture (weights
    * in basis points, broadcast dim) by hash-deterministic Bernoulli
    * keep decisions: keep iff fp(doc) mod 10000 < weight. Shuffle-free
    * assignment (the split_stratified shape), so re-runs, engines, and
    * cluster sizes agree row-for-row; output is the per-source audit
    * (kept counts + achieved rate vs target). */
  private val splitDomainMix: Q = (s, d) => {
    import s.implicits._
    val weights = Seq(("src0", 9000L), ("src1", 7500L), ("src2", 5000L), ("src3", 2500L))
      .toDF("source", "weight_bp")
    Tables.documents(s, d)
      .join(broadcast(weights), Seq("source"), "left")
      .withColumn("wbp", coalesce(col("weight_bp"), lit(1000L)))
      .withColumn("keep",
        expr("graft_str_fp(concat('mix||', CAST(doc_id AS STRING))) % 10000") < col("wbp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id"))).as("kept_id_sum"),
        first(col("wbp")).as("target_bp"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        floor(col("n_kept") * 10000 / col("n_docs")).as("kept_bp"),
        col("target_bp"), coalesce(col("kept_id_sum"), lit(0L)).as("sum_kept_id"))
      .orderBy("source")
  }

  /** Temperature-based mixture RESAMPLING (w_s ∝ n_s^α, the standard
    * multilingual/domain rebalancing rule; α = 1/2 here): per-source
    * keep-rates derived FROM the observed counts, flattening the head
    * and boosting the tail, with a global budget of 60% — unlike
    * `split_domain_mix`, whose weights are a fixed config. Engine
    * determinism: α = 1/2 because sqrt is IEEE-754 correctly-rounded in
    * BOTH engines (pow is not); the tempered weight then moves onto an
    * integer grid immediately — srt = floor(sqrt(n)·10^6) — so the
    * budget split `6000·srt DIV Σsrt` and the hash-Bernoulli keep are
    * pure integer arithmetic that cannot straddle a float ulp. Scale:
    * the weights table is one row per source (broadcast); assignment is
    * shuffle-free per-row hashing, same as the stratified split. */
  private val splitTemperatureMix: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("srt", floor(sqrt(col("n")) * 1000000).cast("long"))
    val total = counts.agg(sum("srt").as("total"))
    val rates = counts.crossJoin(broadcast(total))
      .withColumn("rate_bp", expr("(6000 * srt) DIV total"))
      .select("source", "rate_bp")
    Tables.documents(s, d)
      .join(broadcast(rates), Seq("source"))
      .withColumn("keep",
        expr("graft_str_fp(concat('tmix||', CAST(doc_id AS STRING))) % 10000") < col("rate_bp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id"))).as("kept_id_sum"),
        first(col("rate_bp")).as("rate_bp"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        floor(col("n_kept") * 10000 / col("n_docs")).as("kept_bp"),
        col("rate_bp"), coalesce(col("kept_id_sum"), lit(0L)).as("sum_kept_id"))
      .orderBy("source")
  }

  /** Epoch/up-sampling MIX planner — the third leg of the mixture
    * family (domain_mix down-samples by rate, temperature_mix reshapes
    * the distribution; this one plans UP-sampling): given target
    * mixture weights and a total token budget — the way a LLaMA-style
    * mixture table is specified — compute, per source, how many full
    * passes (epochs) over the source the budget demands and what
    * fraction of the last pass is consumed. All integer arithmetic
    * (targets are budget·w DIV Σw; epochs are ceiling division; the
    * partial-epoch fraction is basis points), so both engines agree
    * exactly. The plan is one aggregate over the corpus plus a
    * broadcast of the 4-row weight table: at 100 TB the token census
    * is the only scan, and it's the same partial-agg census every
    * mixture op shares. */
  private val splitEpochMix: Q = (s, d) => {
    import s.implicits._
    val weights = Seq(("src0", 40L), ("src1", 30L), ("src2", 20L), ("src3", 10L))
      .toDF("source", "weight")
    val budget = 2000000L
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("avail_tokens"))
      .join(broadcast(weights), Seq("source"), "inner")
      .withColumn("target_tokens", expr(s"($budget * weight) DIV 100"))
      .withColumn("epochs",
        expr("(target_tokens + avail_tokens - 1) DIV avail_tokens"))
      .withColumn("last_epoch_bp",
        expr("((target_tokens - (epochs - 1) * avail_tokens) * 10000) DIV avail_tokens"))
      .select("source", "n_docs", "avail_tokens", "weight",
        "target_tokens", "epochs", "last_epoch_bp")
      .orderBy("source")
  }

  /** Size-targeted SHARD-EXPORT plan — the last step of a training-data
    * pipeline: assign documents (in stable doc_id order) to output
    * shards of ~8 KiB each, the fixed-size-file export every training
    * run reads (shard = ⌊bytes-before / target⌋, so shard boundaries
    * never split mid-document and file sizes stay within one doc of the
    * target). The global running total is computed DISTRIBUTED — the
    * w4 discipline: the bin is a pure function of doc_id (width from
    * one tiny min/max collect), per-bin prefix sums run under a
    * bin-partitioned window, and the ≤32-row bin-offset table (prefix
    * of bin totals via the broadcast strictly-less self-join — no
    * global window anywhere) broadcasts back. Output census pins the
    * full assignment: per shard doc count, byte mass, and the doc-id
    * range. At 100 TB the same plan writes each shard with
    * partitionBy(shard) — the census IS the manifest. */
  private val exportShardPlan: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val Bins = 32
    val Target = 8192L
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "CAST(octet_length(text) AS BIGINT) AS b")
    val mm = docs.agg(min("doc_id"), max("doc_id")).collect().head // 2 longs
    // zero-row corpus: min/max are NULL — any bin constants keep the
    // empty plan well-formed (EmptyInputSpec sweeps this)
    val (lo, hi) = if (mm.isNullAt(0)) (0L, 0L) else (mm.getLong(0), mm.getLong(1))
    val binW = math.max(1L, (hi - lo) / Bins + 1)
    val binned = docs.selectExpr("doc_id", "b",
      s"(doc_id - $lo) DIV $binW AS bin").localCheckpoint()
    val w = Window.partitionBy("bin").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binTotals = binned.groupBy("bin").agg(sum("b").as("tot"))
      .localCheckpoint() // ≤ Bins rows
    val offsets = binTotals.as("a")
      .join(broadcast(binTotals.as("o")), col("o.bin") < col("a.bin"), "left")
      .groupBy(col("a.bin").as("bin"))
      .agg(coalesce(sum(col("o.tot")), lit(0L)).as("off"))
    binned.withColumn("run", sum("b").over(w))
      .join(broadcast(offsets), Seq("bin"))
      .selectExpr("doc_id", "b", s"(off + run - b) DIV $Target AS shard")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("b").as("n_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard")
  }

  /** TOKEN-BUDGET WATERFILL — the mixture-planning step the rate/weight
    * samplers assume has already happened: given per-domain token
    * masses and a total training budget T (here 60% of the corpus, so
    * the cap binds at every SF), find the uniform per-domain cap c with
    * Σ min(tokens_d, c) ≈ T and allocate — small domains keep
    * everything, over-represented domains are clipped to c. This is the
    * classic "cap the crawl, keep the books" allocation (the Pile /
    * LLaMA-style mixture tables), computed EXACTLY: domains sorted by
    * mass ascending, prefix sums, candidate cap at rank k is
    * (T − pre_k) DIV (n − k + 1), and the binding cap is the first
    * candidate its own domain reaches — pure window arithmetic, no
    * iteration, no floats.
    *
    * Scale: one token-count aggregate over documents (map-side
    * partial), then ALL remaining work happens on n_domains rows —
    * the global sort window costs nothing because the frame is
    * domain-sized, never corpus-sized. */
  /** The waterfill core over a `(source, tokens)` frame at budget
    * = total·num DIV den — exposed for SamplerSpec's branch sweep
    * (budget ≥ total ⇒ nothing binds; budget = 0 ⇒ everything clips
    * to 0). */
  private[queries] def waterfill(toks: DataFrame, num: Long, den: Long): DataFrame = {
    val tot = toks.agg(sum("tokens").as("total"),
      count(lit(1)).as("n"))
    // Global rank + prefix sum WITHOUT a single-partition window (the
    // PlanSpec ban): the frame is domain-sized, so the strictly-before
    // set attaches via a broadcast theta-join — k = 1 + |before|,
    // pre = Σ tokens(before) — the exportShardPlan offsets idiom.
    // O(n_domains²) broadcast work, never corpus-sized.
    val ord = toks.select(col("source").as("o_source"),
      col("tokens").as("o_tokens"))
    val ranked = toks.join(broadcast(ord),
        col("o_tokens") < col("tokens") ||
          (col("o_tokens") === col("tokens") && col("o_source") < col("source")),
        "left")
      .groupBy("source", "tokens")
      .agg((count(col("o_source")) + lit(1L)).as("k"),
        coalesce(sum("o_tokens"), lit(0L)).as("pre"))
      .crossJoin(broadcast(tot))
      .selectExpr("source", "tokens", "k", s"(total * $num) DIV $den AS budget",
        s"((total * $num) DIV $den - pre) DIV (n - k + 1) AS cand")
    // the binding cap: first rank whose own mass reaches its candidate;
    // NULL (budget ≥ total ⇒ nothing binds) → everything allocated
    val cap = ranked.filter(col("tokens") >= col("cand"))
      .agg(min_by(col("cand"), col("k")).as("cap"))
    ranked.crossJoin(broadcast(cap))
      .selectExpr("source", "tokens",
        "least(tokens, coalesce(cap, tokens)) AS alloc_tokens",
        "CAST(CASE WHEN cap IS NOT NULL AND tokens > cap THEN 1 ELSE 0 END AS BIGINT) AS capped",
        "budget")
      .orderBy("source")
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — the
    * model-free data-selection step between the rule filters and the
    * mixture planners: pick raw-pool documents whose hashed-n-gram
    * feature distribution looks like a TARGET domain. Features are
    * bigrams hashed into 64 buckets (the paper's hashed n-gram feature
    * space); target ('src0') and raw (every other source) corpora each
    * induce a +1-smoothed multinomial over the SAME observed-bucket
    * vocabulary; a doc's log importance weight is
    * Σ_b n_b·(⌊ln p_t(b)·e6⌋ − ⌊ln p_r(b)·e6⌋) — the NB-classifier
    * integer-log discipline ([[LmQueries]]), so the weight is an exact
    * BIGINT — and the selection is the global top-50 raw docs by
    * (weight desc, doc_id asc). Raw docs with no bigram (single-token)
    * have no features and cannot rank, in both engines alike.
    * Output census pins selected membership per source (count, id-sum,
    * weight range).
    *
    * Scale: the feature census is a 64-key partial agg, the weight
    * table broadcasts 64 rows, per-doc weights are one
    * (doc_id, bucket) partial-agg groupBy, and the top-50 is a
    * TakeOrdered — no global sort materializes, nothing is all-pairs. */
  /** DSIR feature extraction: one `(doc_id, source, b)` row per hashed
    * bigram occurrence. */
  private[graft] def dsirFeats(docs: DataFrame): DataFrame =
    // posexplode + prev lookup (the LmQueries positions idiom) instead of
    // materializing a per-doc bigram-string array: measured 6.2 s → the
    // token-tier norm at sf0.1; single-token docs yield no pos > 0 row,
    // so the short-doc guard is structural
    docs.selectExpr("doc_id", "source", "split(text, ' ') AS t")
      .selectExpr("doc_id", "source", "posexplode(t) AS (pos, tok)", "t")
      .filter(col("pos") > 0)
      .selectExpr("doc_id", "source",
        "graft_str_fp(concat(element_at(t, pos), ' ', tok)) % 64 AS b")

  /** The +1-smoothed target-vs-raw log weight table (`(b, lw)`,
    * ≤ 64 rows — always broadcastable). */
  private[graft] def dsirWeights(feats: DataFrame): DataFrame = {
    val census = feats.groupBy("b").agg(
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("cr"))
    val tot = census.agg(sum("ct").as("tt"), sum("cr").as("tr"),
      count(lit(1)).as("nb"))
    census.crossJoin(broadcast(tot))
      .selectExpr("b",
        "CAST(floor(ln((ct + 1) / CAST(tt + nb AS DOUBLE)) * 1000000) AS BIGINT) - " +
          "CAST(floor(ln((cr + 1) / CAST(tr + nb AS DOUBLE)) * 1000000) AS BIGINT) AS lw")
  }

  /** Per-raw-doc importance weights against a weight table. */
  private[graft] def dsirScore(feats: DataFrame, wts: DataFrame): DataFrame =
    feats.filter(col("source") =!= "src0")
      .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("n"))
      .join(broadcast(wts), Seq("b"))
      .groupBy("doc_id", "source").agg(sum(col("n") * col("lw")).as("w_e6"))

  private val sampleDsir: Q = (s, d) => {
    val feats = dsirFeats(Tables.documents(s, d))
      .localCheckpoint() // feeds the census AND the scoring pass once
    val top = dsirScore(feats, dsirWeights(feats))
      .orderBy(col("w_e6").desc, col("doc_id").asc).limit(50)
    top.groupBy("source")
      .agg(count(lit(1)).as("n_selected"), sum("doc_id").as("sum_doc_id"),
        min("w_e6").as("min_w_e6"), max("w_e6").as("max_w_e6"))
      .orderBy("source")
  }

  /** WEIGHTED sampling WITHOUT replacement — Efraimidis & Spirakis 2006
    * ("Weighted random sampling with a reservoir"): each doc draws
    * u ∈ (0,1] from the deterministic hash grid and ranks by
    * ln(u)/w (w = token count), and the per-source top-5 of that key
    * IS a w-proportional sample without replacement — the
    * one-pass/distributed-safe construction (rank keys merge like any
    * top-k; order and partitioning can't change the sample). The
    * sampler tier's upgrade from the uniform `sample_bottomk`: big
    * documents are proportionally likelier, never certain.
    *
    * Arithmetic discipline: u's log is floored onto the e9 integer
    * grid FIRST; the only float op after that is one bigint/bigint
    * division — identical IEEE doubles in both engines — and the
    * pinned output key is its e6 floor. Same plan shape as
    * sample_bottomk (source-partitioned top-k ⇒ the bounded-heap
    * TopKPerKey operator), so no global sort and no skew exposure. */
  private val sampleWeighted: Q = (s, d) => {
    val keyed = Tables.documents(s, d)
      .selectExpr("doc_id", "source",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
        "graft_str_fp(concat('wsamp||', CAST(doc_id AS STRING))) % 1000000 AS h")
      .selectExpr("doc_id", "source", "n_tokens",
        "CAST(floor(ln((h + 1) / 1000000.0D) * 1000000000) AS BIGINT) AS lnu_e9")
      .withColumn("skey", expr("lnu_e9 / n_tokens"))
    val w = Window.partitionBy("source").orderBy(col("skey").desc, col("doc_id").asc)
    keyed.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .selectExpr("source", "doc_id", "n_tokens",
        "CAST(floor(skey / 1000.0D) AS BIGINT) AS key_e6",
        "CAST(rn AS BIGINT) AS rn")
      .orderBy("source", "rn")
  }

  /** LEARNABILITY-weighted mixture — the DoReMi idea (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining") in its one-shot relational form: up-weight domains
    * where a BETTER model helps most. The excess-loss proxy is the
    * per-domain gap between the unigram and bigram corpus LMs
    * (nll_uni − nll_bi, integer e4 — how much adding context improves
    * fit = how much structure the domain has left to learn); domain
    * weights are excess/Σexcess in basis points, sampling rates scale
    * the max-excess domain to 80%, and the kept-doc census uses the
    * battery's deterministic hash-threshold keep. greatest(excess, 1)
    * keeps every domain alive — DoReMi's uniform-mixing floor.
    *
    * Scale posture: token scoring is the LmQueries join shape (n-gram
    * count partial aggs + word-keyed joins); everything after the
    * per-source aggregate runs on n_domains rows; the keep pass is one
    * broadcast join + partial agg over documents. */
  private val splitLearnabilityMix: Q = (s, d) => {
    // shared tokenized-corpus artifacts (r21, see LmQueries.lmPositions):
    // identical position rows and count tables, so every score and
    // every kept-doc census cell is unchanged
    val pos = LmQueries.lmPositions(s, d).select("doc_id", "source", "tok", "prev")
    val uni = LmQueries.lmUnigrams(s, d)
    val tot = uni.agg(sum("cu").as("nt"))
    val bi = LmQueries.lmBigrams(s, d)
    val perSrc = pos
      .join(uni, "tok")
      .join(uni.select(col("tok").as("prev"), col("cu").as("cp")), Seq("prev"), "left")
      .join(bi, Seq("prev", "tok"), "left")
      .crossJoin(broadcast(tot))
      .selectExpr("source",
        "CAST(floor(ln(CAST(cu AS DOUBLE) / nt) * 1000000) AS BIGINT) AS lpu",
        "CAST(floor(ln(CASE WHEN prev IS NULL THEN CAST(cu AS DOUBLE) / nt " +
          "ELSE CAST(cb AS DOUBLE) / cp END) * 1000000) AS BIGINT) AS lpb")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum("lpu").as("su"), sum("lpb").as("sb"))
      .selectExpr("source",
        "CAST(floor(CAST(-su AS DOUBLE) / n_tokens / 100.0D) AS BIGINT) AS nll_uni_e4",
        "CAST(floor(CAST(-sb AS DOUBLE) / n_tokens / 100.0D) AS BIGINT) AS nll_bi_e4")
      .selectExpr("source", "nll_uni_e4", "nll_bi_e4",
        "greatest(nll_uni_e4 - nll_bi_e4, 1) AS excess_e4")
      .localCheckpoint() // n_domains rows; feeds totals and the rate join
    val totals = perSrc.agg(sum("excess_e4").as("te"), max("excess_e4").as("me"))
    val rates = perSrc.crossJoin(broadcast(totals))
      .selectExpr("source", "excess_e4",
        "(10000 * excess_e4) DIV te AS weight_bp",
        "(8000 * excess_e4) DIV me AS rate_bp")
    Tables.documents(s, d).select("doc_id", "source")
      .join(broadcast(rates), Seq("source"))
      .withColumn("keep",
        expr("graft_str_fp(concat('lmix||', CAST(doc_id AS STRING))) % 10000")
          < col("rate_bp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L)).as("sum_kept_id"),
        max("excess_e4").as("excess_e4"),
        max("weight_bp").as("weight_bp"), max("rate_bp").as("rate_bp"))
      .orderBy("source")
  }

  /** CURRICULUM schedule — deterministic easy-to-hard training order
    * (Bengio et al. 2009): difficulty is the per-doc mean unigram
    * surprisal (the corpus-derived nll_e4 of the LM-filter tier), the
    * order is the exact global rank by (nll_e4 asc, doc_id asc), and
    * stages are the 10 global deciles of that order. Output pins every
    * stage boundary: per (stage, source) doc counts, id-sum, and the
    * nll range — an off-by-one anywhere in the global rank moves a doc
    * across a decile edge and flips the hash.
    *
    * The global rank computes DISTRIBUTED (the exportShardPlan idiom,
    * PlanSpec's no-global-window rule): difficulty values bin by
    * nll_e4 DIV 1000 (monotone, so bin order = value order), per-bin
    * ranks are a bin-partitioned window, and cross-bin offsets attach
    * via a broadcast theta-join over the ≤O(100)-row bin census. At
    * 100 TB no stage of this plan moves all rows to one task. */
  private val sampleCurriculum: Q = (s, d) => {
    // shared tokenized-corpus artifacts (r21, see LmQueries.lmPositions)
    val tk = LmQueries.lmPositions(s, d).select("doc_id", "source", "tok")
    val uni = LmQueries.lmUnigrams(s, d)
    val tot = uni.agg(sum("cu").as("nt"))
    val perDoc = tk.join(uni, "tok").crossJoin(broadcast(tot))
      .selectExpr("doc_id", "source",
        "CAST(floor(ln(CAST(cu AS DOUBLE) / nt) * 1000000) AS BIGINT) AS lp_e6")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"), sum("lp_e6").as("slp"))
      .selectExpr("doc_id", "source",
        "CAST(floor(CAST(-slp AS DOUBLE) / n_tokens / 100.0D) AS BIGINT) AS nll_e4")
      .localCheckpoint() // feeds the bin census AND the ranked walk
    val binned = perDoc.withColumn("bin", expr("nll_e4 DIV 1000"))
    val binCounts = binned.groupBy("bin").agg(count(lit(1)).as("c"))
      .localCheckpoint() // O(value-range/1000) rows
    val offsets = binCounts.as("a")
      .join(broadcast(binCounts.as("o")), col("o.bin") < col("a.bin"), "left")
      .groupBy(col("a.bin").as("bin"))
      .agg(coalesce(sum(col("o.c")), lit(0L)).as("off"))
    val nTot = perDoc.agg(count(lit(1)).as("n_total"))
    val w = Window.partitionBy("bin").orderBy(col("nll_e4"), col("doc_id"))
    binned.withColumn("rn", row_number().over(w))
      .join(broadcast(offsets), Seq("bin"))
      .crossJoin(broadcast(nTot))
      .selectExpr("doc_id", "source", "nll_e4",
        "((off + rn - 1) * 10) DIV n_total AS stage")
      .groupBy("stage", "source")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_id"),
        min("nll_e4").as("min_nll_e4"), max("nll_e4").as("max_nll_e4"))
      .orderBy("stage", "source")
  }

  private val sampleBudgetAlloc: Q = (s, d) => {
    // the %7 slice splits off small "_rare" domains so BOTH branches are
    // live at every SF: rare domains keep everything, big ones clip
    val toks = Tables.documents(s, d)
      .selectExpr(
        "concat(source, CASE WHEN doc_id % 7 = 0 THEN '_rare' ELSE '' END) AS source",
        "CAST(size(split(text, ' ')) AS BIGINT) AS nt")
      .groupBy("source").agg(sum("nt").as("tokens"))
      .localCheckpoint() // n_domains rows; feeds totals, ranking, output
    waterfill(toks, 6, 10)
  }

  val queries: Seq[(String, Q)] = Seq(
    "sample_budget_alloc" -> sampleBudgetAlloc,
    "export_shard_plan" -> exportShardPlan,
    "split_stratified" -> splitStratified,
    "sample_bottomk" -> sampleBottomk,
    "pack_sequences" -> packSequences,
    "split_domain_mix" -> splitDomainMix,
    "split_temperature_mix" -> splitTemperatureMix,
    "split_epoch_mix" -> splitEpochMix,
    "sample_dsir" -> sampleDsir,
    "sample_curriculum" -> sampleCurriculum,
    "split_learnability_mix" -> splitLearnabilityMix,
    "sample_weighted" -> sampleWeighted,
  )

  val oracles: Map[String, String] = Map(
    "sample_budget_alloc" ->
      """WITH toks AS (
        |  SELECT source || CASE WHEN doc_id % 7 = 0 THEN '_rare' ELSE '' END
        |      AS source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(tokens) AS BIGINT) AS total, count(*) AS n FROM toks),
        |ranked AS (
        |  SELECT source, tokens,
        |    row_number() OVER (ORDER BY tokens ASC, source ASC) AS k,
        |    coalesce(sum(tokens) OVER (ORDER BY tokens ASC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM toks),
        |cand AS (
        |  SELECT r.source, r.tokens, r.k,
        |    (t.total * 6) // 10 AS budget,
        |    ((t.total * 6) // 10 - r.pre) // (t.n - r.k + 1) AS cand
        |  FROM ranked r, tot t),
        |cap AS (
        |  SELECT min_by(cand, k) AS cap FROM cand WHERE tokens >= cand)
        |SELECT c.source, c.tokens,
        |  CAST(least(c.tokens, coalesce(p.cap, c.tokens)) AS BIGINT) AS alloc_tokens,
        |  CAST(CASE WHEN p.cap IS NOT NULL AND c.tokens > p.cap
        |    THEN 1 ELSE 0 END AS BIGINT) AS capped,
        |  c.budget
        |FROM cand c, cap p ORDER BY c.source""".stripMargin,
    // the oracle may use the global window the engine side must avoid
    "export_shard_plan" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS b
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, b,
        |    coalesce(sum(b) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM s),
        |a AS (SELECT doc_id, b, CAST(before // 8192 AS BIGINT) AS shard FROM c)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(b) AS BIGINT) AS n_bytes,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    "split_stratified" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |    ${duckFp("CAST(doc_id AS VARCHAR) || '||' || source")} % 100 AS bucket
         |  FROM documents)
         |SELECT source,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
         |FROM b GROUP BY source, split ORDER BY source, split""".stripMargin,
    "sample_bottomk" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, source,
         |    ${duckFp("CAST(doc_id AS VARCHAR) || '||sample'")} AS samp_key
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, samp_key,
         |    row_number() OVER (PARTITION BY source ORDER BY samp_key, doc_id) AS rn
         |  FROM keyed)
         |SELECT source, doc_id, samp_key, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= 5 ORDER BY source, rn""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT source, doc_id, n_tokens,
        |  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack_id,
        |  CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset
        |FROM c ORDER BY source, doc_id""".stripMargin,
    "split_domain_mix" ->
      s"""WITH k AS (
         |  SELECT source, doc_id,
         |    CASE source WHEN 'src0' THEN 9000 WHEN 'src1' THEN 7500
         |      WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500 ELSE 1000 END AS wbp,
         |    ${duckFp("'mix||' || CAST(doc_id AS VARCHAR)")} % 10000 AS h
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN h < wbp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(floor(sum(CASE WHEN h < wbp THEN 1 ELSE 0 END) * 10000
         |    / count(*)) AS BIGINT) AS kept_bp,
         |  CAST(max(wbp) AS BIGINT) AS target_bp,
         |  CAST(coalesce(sum(CASE WHEN h < wbp THEN doc_id END), 0) AS BIGINT)
         |    AS sum_kept_id
         |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "split_temperature_mix" ->
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n,
         |    CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS srt
         |  FROM counts),
         |t AS (SELECT CAST(sum(srt) AS BIGINT) AS total FROM w),
         |r AS (SELECT source, (6000 * srt) // total AS rate_bp FROM w, t),
         |k AS (
         |  SELECT d.source, d.doc_id, r.rate_bp,
         |    ${duckFp("'tmix||' || CAST(doc_id AS VARCHAR)")} % 10000 AS h
         |  FROM documents d JOIN r USING (source))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN h < rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(floor(sum(CASE WHEN h < rate_bp THEN 1 ELSE 0 END) * 10000
         |    / count(*)) AS BIGINT) AS kept_bp,
         |  CAST(max(rate_bp) AS BIGINT) AS rate_bp,
         |  CAST(coalesce(sum(CASE WHEN h < rate_bp THEN doc_id END), 0) AS BIGINT)
         |    AS sum_kept_id
         |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "split_epoch_mix" ->
      """WITH a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT * FROM (VALUES ('src0', CAST(40 AS BIGINT)),
        |    ('src1', 30), ('src2', 20), ('src3', 10)) t(source, weight)),
        |plan AS (
        |  SELECT a.source, n_docs, avail_tokens, weight,
        |    (2000000 * weight) // 100 AS target_tokens
        |  FROM a JOIN w ON a.source = w.source),
        |ep AS (
        |  SELECT *, (target_tokens + avail_tokens - 1) // avail_tokens AS epochs
        |  FROM plan)
        |SELECT source, n_docs, avail_tokens, weight, target_tokens, epochs,
        |  CAST(((target_tokens - (epochs - 1) * avail_tokens) * 10000)
        |    // avail_tokens AS BIGINT) AS last_epoch_bp
        |FROM ep ORDER BY source""".stripMargin,
    "sample_dsir" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         |feats AS (
         |  SELECT doc_id, source,
         |    ${duckFp("t[i] || ' ' || t[i + 1]")} % 64 AS b
         |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)),
         |census AS (
         |  SELECT b,
         |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
         |    sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
         |  FROM feats GROUP BY b),
         |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS nb FROM census),
         |wts AS (
         |  SELECT b,
         |    CAST(floor(ln((ct + 1) / CAST(tt + nb AS DOUBLE)) * 1000000) AS BIGINT)
         |    - CAST(floor(ln((cr + 1) / CAST(tr + nb AS DOUBLE)) * 1000000) AS BIGINT)
         |      AS lw
         |  FROM census, tot),
         |docw AS (
         |  SELECT doc_id, source, b, count(*) AS n
         |  FROM feats WHERE source <> 'src0' GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT doc_id, source, CAST(sum(n * lw) AS BIGINT) AS w_e6
         |  FROM docw JOIN wts USING (b) GROUP BY 1, 2),
         |top AS (
         |  SELECT * FROM scored ORDER BY w_e6 DESC, doc_id ASC LIMIT 50)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
         |  CAST(min(w_e6) AS BIGINT) AS min_w_e6,
         |  CAST(max(w_e6) AS BIGINT) AS max_w_e6
         |FROM top GROUP BY source ORDER BY source""".stripMargin,
    // the oracle may use the global window the engine side must avoid
    "sample_curriculum" ->
      """WITH tk AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS nt FROM uni),
        |per AS (
        |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(floor(ln(CAST(cu AS DOUBLE) / nt) * 1000000)
        |      AS BIGINT)) AS BIGINT) AS slp
        |  FROM tk JOIN uni USING (tok), tot GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_id, source,
        |    CAST(floor(CAST(-slp AS DOUBLE) / n_tokens / 100.0) AS BIGINT)
        |      AS nll_e4
        |  FROM per),
        |rk AS (
        |  SELECT *, row_number() OVER (ORDER BY nll_e4, doc_id) AS rn,
        |    count(*) OVER () AS n_total
        |  FROM scored)
        |SELECT CAST(((rn - 1) * 10) // n_total AS BIGINT) AS stage, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(min(nll_e4) AS BIGINT) AS min_nll_e4,
        |  CAST(max(nll_e4) AS BIGINT) AS max_nll_e4
        |FROM rk GROUP BY 1, 2 ORDER BY stage, source""".stripMargin,
    "split_learnability_mix" ->
      s"""WITH tk AS (
         |  SELECT s.doc_id, s.source, s.t[u.i] AS tok,
         |    CASE WHEN u.i = 1 THEN NULL ELSE s.t[u.i - 1] END AS prev
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t
         |        FROM documents) s,
         |    UNNEST(generate_series(1, len(s.t))) u(i)),
         |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS nt FROM uni),
         |bi AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS cb
         |  FROM tk WHERE prev IS NOT NULL GROUP BY 1, 2),
         |scored AS (
         |  SELECT tk.source,
         |    CAST(floor(ln(CAST(u1.cu AS DOUBLE) / nt) * 1000000) AS BIGINT)
         |      AS lpu,
         |    CAST(floor(ln(CASE WHEN tk.prev IS NULL
         |        THEN CAST(u1.cu AS DOUBLE) / nt
         |        ELSE CAST(bi.cb AS DOUBLE) / u2.cu END) * 1000000) AS BIGINT)
         |      AS lpb
         |  FROM tk
         |  JOIN uni u1 ON u1.tok = tk.tok
         |  LEFT JOIN uni u2 ON u2.tok = tk.prev
         |  LEFT JOIN bi ON bi.prev = tk.prev AND bi.tok = tk.tok
         |  CROSS JOIN tot),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(lpu) AS BIGINT) AS su, CAST(sum(lpb) AS BIGINT) AS sb
         |  FROM scored GROUP BY 1),
         |ex AS (
         |  SELECT source,
         |    greatest(
         |      CAST(floor(CAST(-su AS DOUBLE) / n_tokens / 100.0) AS BIGINT)
         |      - CAST(floor(CAST(-sb AS DOUBLE) / n_tokens / 100.0) AS BIGINT),
         |      1) AS excess_e4
         |  FROM per),
         |tots AS (SELECT CAST(sum(excess_e4) AS BIGINT) AS te,
         |  CAST(max(excess_e4) AS BIGINT) AS me FROM ex),
         |rates AS (
         |  SELECT source, excess_e4,
         |    (10000 * excess_e4) // te AS weight_bp,
         |    (8000 * excess_e4) // me AS rate_bp
         |  FROM ex, tots),
         |keeps AS (
         |  SELECT d.source, d.doc_id, r.excess_e4, r.weight_bp, r.rate_bp,
         |    ${duckFp("'lmix||' || CAST(d.doc_id AS VARCHAR)")} % 10000
         |      < r.rate_bp AS keep
         |  FROM documents d JOIN rates r USING (source))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(coalesce(sum(CASE WHEN keep THEN doc_id END), 0) AS BIGINT)
         |    AS sum_kept_id,
         |  CAST(max(excess_e4) AS BIGINT) AS excess_e4,
         |  CAST(max(weight_bp) AS BIGINT) AS weight_bp,
         |  CAST(max(rate_bp) AS BIGINT) AS rate_bp
         |FROM keeps GROUP BY source ORDER BY source""".stripMargin,
    "sample_weighted" ->
      s"""WITH k AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${duckFp("'wsamp||' || CAST(doc_id AS VARCHAR)")} % 1000000 AS h
         |  FROM documents),
         |l AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(floor(ln((h + 1) / 1000000.0) * 1000000000) AS BIGINT)
         |      AS lnu_e9
         |  FROM k),
         |r AS (
         |  SELECT *, lnu_e9 / n_tokens AS skey,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY lnu_e9 / n_tokens DESC, doc_id ASC) AS rn
         |  FROM l)
         |SELECT source, doc_id, n_tokens,
         |  CAST(floor(skey / 1000.0) AS BIGINT) AS key_e6,
         |  CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= 5 ORDER BY source, rn""".stripMargin,
  )
}
