package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared.{duckFp, Q}

/** Subword (BPE) tokenization as a RELATIONAL operator (VERDICT r10 #2
  * / r11 #4) — byte-pair encoding re-expressed so that both training
  * and application are Catalyst plans over the word-frequency table,
  * with the exact arithmetic replicated by the DuckDB oracle (Sennrich
  * et al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units" — the canonical train loop: count adjacent symbol pairs over
  * the vocab weighted by word frequency, merge the most frequent pair,
  * recount).
  *
  * Training is the textbook iterative loop: [[NumMerges]] rounds, each
  * counting adjacent token pairs weighted by word frequency
  * (`groupBy(lhs, rhs).agg(sum(freq))`), picking the top pair with a
  * deterministic (count DESC, lhs ASC, rhs ASC) tie-break, and applying
  * it vocab-wide before the next count. The driver collects ONE row per
  * round — the merge rule — never data; the vocab stays distributed.
  *
  * Application is greedy left-to-right — the sequential scan every BPE
  * implementation runs per word — but expressed WITHOUT fold state so
  * it stays a per-row projection both engines share: inside a maximal
  * run of consecutive occurrences of the pair, greedy LTR merges at
  * run offsets 0, 2, 4, …; so merge_at(i) ⇔ pair-at(i) ∧ (i −
  * run_start(i)) even, where run_start(i) is the largest j ≤ i whose
  * preceding position is not a pair occurrence. run_start is a nested
  * O(len²)-per-word transform — words are tens of characters, so the
  * quadratic term is bounded and the whole apply stays inside
  * whole-stage codegen'd HOFs.
  *
  * Scale posture: training and application both run on the DISTINCT
  * word vocabulary (Zipf: ≪ corpus size; the classic BPE trick), and
  * per-document token counts come from re-joining the tokenized vocab
  * to the exploded corpus — the join side is vocab-sized, so AQE
  * broadcasts it. Per-round vocab states are localCheckpoint'd to cut
  * the O(rounds²) lineage replay. Whitespace runs collapse to empty
  * words, which are dropped on BOTH the train and apply paths, so a
  * whitespace-normalized variant of the corpus hashes identically
  * (BpeSpec pins this).
  */
private[graft] object BpeQueries {

  private val NumMerges = 8
  private val PackCapacity = 512L

  /** Distinct-word frequency table of the corpus; empty words (from
    * repeated separators) dropped. */
  private def vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** One greedy-LTR application of merge rule (lhs, rhs) to the token
    * array column `t` — the native single-pass
    * [[graft.expressions.BpeMergeRound]] (r21; formerly a ~100-node
    * nested-lambda parity-rule projection, O(n²) per word and
    * re-analyzed by Catalyst every round). Exposed for BpeSpec's
    * micro-fixtures, which pin greedy-LTR equivalence. */
  private[graft] def applyMergeRound(df: DataFrame, lhs: String, rhs: String): DataFrame =
    df.withColumn("t",
      org.apache.spark.sql.functions.call_function("graft_bpe_merge",
        col("t"), lit(lhs), lit(rhs)))

  /** Memo key of a corpus dir's trained merge table — a tokenizer is
    * trained once per session and REUSED, not retrained per query (the
    * three battery entries share one table, exactly as a production
    * pipeline ships one tokenizer artifact). Safe to memoize: the table
    * is plain data and training is deterministic (BpeSpec pins re-run
    * equality). On a memo hit the vocab is re-tokenized by REPLAYING
    * the stored merges — 8 lazy projection rounds, no counting jobs, no
    * driver collects. */
  private def mergesKey(d: String): String = "bpe_merges|" + d

  /** Textbook BPE train loop: NumMerges rounds of count → top-1 →
    * apply, returning the ranked merge table and the fully tokenized
    * vocab (w, freq, t). Stops early if the corpus is empty or pairs
    * are exhausted. */
  private[graft] def learnMerges(s: SparkSession, d: String): (Seq[(String, String)], DataFrame) = {
    val v = vocab(s, d)
    var trained: Option[DataFrame] = None
    val m = PipelineShared.memo(s, mergesKey(d)) {
      val (merges, voc) = learnMergesFrom(v)
      trained = Some(voc)
      merges
    }
    trained match {
      case Some(voc) => (m, voc)
      case None =>
        // checkpoint per round EXACTLY like training: a filter or join
        // predicate pushed through 8 stacked rounds of nested-lambda
        // projections makes the optimizer's alias inlining (trimAliases
        // in PushPredicateThroughNonJoin) expand the tree exponentially
        // — measured as a heap OOM in the full suite. Lineage cuts keep
        // every downstream plan bounded at one round's depth.
        var df = v.withColumn("t", split(col("w"), "")).localCheckpoint()
        m.foreach { case (l, r) => df = applyMergeRound(df, l, r).localCheckpoint() }
        (m, df)
    }
  }

  private[graft] def learnMergesFrom(v: DataFrame): (Seq[(String, String)], DataFrame) = {
    var df = v.withColumn("t", split(col("w"), "")).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    for (_ <- 1 to NumMerges if !exhausted) {
      val top = df.filter(size(col("t")) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(0), size(col("t")) - 2), i =>
          struct(element_at(col("t"), i + 1).as("lhs"),
            element_at(col("t"), i + 2).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((l, r))
        df = applyMergeRound(df, l, r).localCheckpoint()
      }
    }
    (merges.toSeq, df)
  }

  /** The learned merge table itself — rank-ordered, the artifact a
    * tokenizer ships. Oracle = the same train loop unrolled as SQL.
    * This entry is the TRAINING operator, so it always trains
    * (bypassing the memo — its bench time is the honest train cost)
    * and memoizes the table the apply-side entries reuse. */
  private val textBpeMerges: Q = (s, d) => {
    val (merges, _) = learnMergesFrom(vocab(s, d))
    PipelineShared.memo(s, mergesKey(d))(merges)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1L, l, r, l + r) }
      .toDF("rank", "lhs", "rhs", "merged")
      .orderBy("rank")
  }

  /** Per-document BPE accounting: word/char/subword-token counts under
    * the corpus-trained merge table (the inputs to packing and to
    * cost-per-token estimates). */
  private val textBpeTokens: Q = (s, d) => {
    val (_, voc) = learnMerges(s, d)
    val wordTok = voc.select(col("w"), size(col("t")).cast("long").as("n_tok"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(wordTok, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_tok")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** TOKENIZER FERTILITY census — the per-domain health metric a
    * tokenizer owner tracks (fertility = subword tokens per whitespace
    * word; compression = chars per subword token): a domain whose
    * fertility drifts high is being shredded by the merge table (wrong
    * script, OOV jargon) and costs proportionally more training budget
    * per word. Integer-e4 fixed point, corpus-trained merges — the
    * same vocab chain as `text_bpe_tokens`, aggregated per source.
    * Scale posture: one explode + vocab join (word-keyed, the vocab is
    * corpus-bounded) + a per-source partial agg. */
  private val textBpeFertility: Q = (s, d) => {
    val (_, voc) = learnMerges(s, d)
    val wordTok = voc.select(col("w"), size(col("t")).cast("long").as("n_tok"))
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(wordTok, Seq("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_tok")).as("n_bpe_tokens"))
      .selectExpr("source", "n_words", "n_chars", "n_bpe_tokens",
        "(n_bpe_tokens * 10000) DIV n_words AS fertility_e4",
        "(n_chars * 10000) DIV n_bpe_tokens AS chars_per_tok_e4")
      .orderBy("source")
  }

  /** `pack_sequences` over BPE counts (the verdict's composition):
    * greedy in-order packing of documents into fixed-capacity training
    * sequences, budgeted by SUBWORD tokens — the unit the model
    * consumes — instead of whitespace tokens. Same shuffle shape as
    * pack_sequences: one window per source partition. */
  private val packBpeSequences: Q = (s, d) => {
    val (_, voc) = learnMerges(s, d)
    val wordTok = voc.select(col("w"), size(col("t")).cast("long").as("n_tok"))
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(wordTok, Seq("w"))
      .groupBy("doc_id").agg(sum(col("n_tok")).as("n"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("source"), col("doc_id"), coalesce(col("n"), lit(0L)).as("n_bpe_tokens"))
      .withColumn("cum", sum("n_bpe_tokens").over(w))
      .select(col("source"), col("doc_id"), col("n_bpe_tokens"),
        floor((col("cum") - col("n_bpe_tokens")) / PackCapacity).cast("long").as("pack_id"),
        ((col("cum") - col("n_bpe_tokens")) % PackCapacity).as("pack_offset"))
      .orderBy("source", "doc_id")
  }

  /** END-TO-END token BUDGET — the curation funnel priced in the unit
    * that actually costs money: subword tokens. Same keep derivation
    * as `e2e_curation_funnel` (quality floor → exact-dedup keeper per
    * digest → temperature sample), then the kept documents are counted
    * under the CORPUS-trained tokenizer and greedily packed per source
    * at the pack_sequences capacity — per source: kept docs, total BPE
    * tokens, and training sequences consumed. This is the number a
    * data-mixture owner actually budgets ("how many 512-token
    * sequences does source X contribute after curation?"), and it
    * composes three pinned tiers (funnel, BPE, packing) into one
    * oracle row per source. */
  private val e2eTokenBudget: Q = (s, d) => {
    val (_, voc) = learnMerges(s, d)
    val wordTok = voc.select(col("w"), size(col("t")).cast("long").as("n_tok"))
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    val corpus = docs.union(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 300000).as("doc_id"), col("source"), col("text")))
    // checkpoint: the funnel frame (union + sha2 + digest window) feeds
    // the rate census AND the kept set — without it the subtree
    // replicates through both consumers (12 scans in the before-plan;
    // the e2e_curation_funnel_v2 fix, r20). Same rows, same hash.
    val flagged = corpus
      .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
      .withColumn("digest", sha2(col("text"), 256))
      .withColumn("q", col("n_words") >= 10)
      .withColumn("keeper_id",
        min(when(col("q"), col("doc_id"))).over(Window.partitionBy("digest")))
      .withColumn("u", col("q") && col("doc_id") === col("keeper_id"))
      .localCheckpoint()
    val rates = flagged.filter(col("u"))
      .groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("srt", floor(sqrt(col("n")) * 1000000).cast("long"))
    val total = rates.agg(sum("srt").as("total"))
    val rateBp = rates.crossJoin(broadcast(total))
      .withColumn("rate_bp", expr("(8000 * srt) DIV total"))
      .select("source", "rate_bp")
    val kept = flagged.join(broadcast(rateBp), Seq("source"), "left")
      .withColumn("keep", col("u") &&
        expr("graft_str_fp(concat('cur||', CAST(doc_id AS STRING))) % 10000") < col("rate_bp"))
      .filter(col("keep"))
      .select("doc_id", "source", "text")
    val perDoc = kept
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(wordTok, Seq("w"))
      .groupBy("doc_id", "source").agg(sum("n_tok").as("n_bpe"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc.withColumn("cum", sum("n_bpe").over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("n_bpe")) / lit(PackCapacity)).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("bpe_tokens"),
        (max("pack_id") + 1L).as("n_packs"))
      .orderBy("source")
  }

  val queries: Seq[(String, Q)] = Seq(
    "text_bpe_merges" -> textBpeMerges,
    "text_bpe_tokens" -> textBpeTokens,
    "text_bpe_fertility" -> textBpeFertility,
    "pack_bpe_sequences" -> packBpeSequences,
    "e2e_token_budget" -> e2eTokenBudget,
  )

  // ---- DuckDB oracle: the train loop unrolled as chained CTEs ----

  /** tok0 = the char-split word-frequency vocab. */
  private val duckTok0: String =
    """tok0 AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq, string_split(w, '') AS t
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) s0
      |  WHERE w <> '' GROUP BY w)""".stripMargin

  /** best{k}: top adjacent pair of tok{k-1} (count DESC, lhs, rhs). */
  private def duckBest(k: Int): String =
    s"""best$k AS (
       |  SELECT lhs, rhs FROM (
       |    SELECT p[1] AS lhs, p[2] AS rhs, sum(freq) AS c
       |    FROM (SELECT freq, unnest(list_transform(generate_series(1, len(t) - 1),
       |            i -> [t[i], t[i + 1]])) AS p
       |          FROM tok${k - 1} WHERE len(t) >= 2) u$k
       |    GROUP BY 1, 2) c$k
       |  ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1)""".stripMargin

  /** tok{k}: greedy-LTR application of best{k} to tok{k-1} — the same
    * parity rule as [[applyMergeRound]], 1-based list indexing. */
  private def duckTok(k: Int): String =
    s"""tok$k AS (
       |  SELECT w, freq, CASE WHEN len(t) < 2 THEN t ELSE
       |    flatten(list_transform(generate_series(0, len(t) - 1), i ->
       |      CASE WHEN i <= len(t) - 2 AND ma[greatest(i + 1, 1)]
       |             THEN [t[i + 1] || t[i + 2]]
       |           WHEN i > 0 AND ma[greatest(i, 1)] THEN CAST([] AS VARCHAR[])
       |           ELSE [t[i + 1]] END)) END AS t
       |  FROM (
       |    SELECT w, freq, t,
       |      CASE WHEN len(t) < 2 THEN CAST([] AS BOOLEAN[])
       |      ELSE list_transform(generate_series(0, len(t) - 2), i ->
       |        mg[i + 1] AND ((i - list_max(list_filter(generate_series(0, i),
       |          j -> j = 0 OR NOT mg[greatest(j, 1)]))) % 2 = 0)) END AS ma
       |    FROM (
       |      SELECT w, freq, t,
       |        CASE WHEN len(t) < 2 THEN CAST([] AS BOOLEAN[])
       |        ELSE list_transform(generate_series(0, len(t) - 2), i ->
       |          t[i + 1] = b.lhs AND t[i + 2] = b.rhs) END AS mg
       |      FROM tok${k - 1}, best$k b) m1$k) m2$k)""".stripMargin

  /** Full train-loop CTE chain through tok{NumMerges}. */
  private val duckRounds: String =
    (duckTok0 +: (1 to NumMerges).flatMap(k => Seq(duckBest(k), duckTok(k))))
      .mkString(",\n")

  private val duckWordTok: String =
    s"wt AS (SELECT w, CAST(len(t) AS BIGINT) AS n_tok FROM tok$NumMerges)"

  private val duckDocWords: String =
    """dw AS (
      |  SELECT doc_id, w
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) x
      |  WHERE w <> '')""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_bpe_merges" ->
      s"""WITH $duckRounds
         |SELECT * FROM (
         |  ${(1 to NumMerges).map(k =>
              s"SELECT CAST($k AS BIGINT) AS rank, lhs, rhs, lhs || rhs AS merged FROM best$k")
              .mkString("\n  UNION ALL\n  ")})
         |ORDER BY rank""".stripMargin,
    "text_bpe_tokens" ->
      s"""WITH $duckRounds,
         |$duckWordTok,
         |$duckDocWords
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(w)) AS BIGINT) AS n_chars,
         |  CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN wt USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bpe_fertility" ->
      s"""WITH $duckRounds,
         |$duckWordTok,
         |sdw AS (
         |  SELECT source, w
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) x
         |  WHERE w <> '')
         |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(w)) AS BIGINT) AS n_chars,
         |  CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
         |  CAST((sum(n_tok) * 10000) // count(*) AS BIGINT) AS fertility_e4,
         |  CAST((sum(length(w)) * 10000) // sum(n_tok) AS BIGINT)
         |    AS chars_per_tok_e4
         |FROM sdw JOIN wt USING (w)
         |GROUP BY source ORDER BY source""".stripMargin,
    "e2e_token_budget" ->
      // funnel CTEs mirror e2e_curation_funnel; BPE CTEs mirror
      // text_bpe_tokens; the pack window mirrors pack_bpe_sequences —
      // three pinned fragments composed
      s"""WITH $duckRounds,
         |$duckWordTok,
         |fcorpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000 AS doc_id, source, text FROM documents
         |  WHERE doc_id % 10 = 0),
         |fflag AS (
         |  SELECT doc_id, source, text,
         |    sha256(text) AS digest,
         |    len(string_split(text, ' ')) >= 10 AS q
         |  FROM fcorpus),
         |fkeep AS (
         |  SELECT *, min(CASE WHEN q THEN doc_id END)
         |    OVER (PARTITION BY digest) AS keeper_id
         |  FROM fflag),
         |fu AS (SELECT *, q AND doc_id = keeper_id AS uniq FROM fkeep),
         |fcounts AS (
         |  SELECT source, CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS srt
         |  FROM fu WHERE uniq GROUP BY source),
         |ft AS (SELECT CAST(sum(srt) AS BIGINT) AS total FROM fcounts),
         |fr AS (SELECT source, (8000 * srt) // total AS rate_bp FROM fcounts, ft),
         |fsam AS (
         |  SELECT fu.doc_id, fu.source, fu.text
         |  FROM fu LEFT JOIN fr USING (source)
         |  WHERE fu.uniq AND (${duckFp("'cur||' || CAST(doc_id AS VARCHAR)")} % 10000
         |    < fr.rate_bp)),
         |fdw AS (
         |  SELECT doc_id, source, w
         |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM fsam) x
         |  WHERE w <> ''),
         |fper AS (
         |  SELECT doc_id, source, CAST(sum(n_tok) AS BIGINT) AS n_bpe
         |  FROM fdw JOIN wt USING (w) GROUP BY 1, 2),
         |fcum AS (
         |  SELECT source, doc_id, n_bpe,
         |    sum(n_bpe) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM fper)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
         |  CAST(max(floor((cum - n_bpe) / $PackCapacity)) + 1 AS BIGINT) AS n_packs
         |FROM fcum GROUP BY source ORDER BY source""".stripMargin,
    "pack_bpe_sequences" ->
      s"""WITH $duckRounds,
         |$duckWordTok,
         |$duckDocWords,
         |per_doc AS (
         |  SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n
         |  FROM dw JOIN wt USING (w) GROUP BY doc_id),
         |base AS (
         |  SELECT d.source, d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_bpe_tokens
         |  FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id),
         |cums AS (
         |  SELECT source, doc_id, n_bpe_tokens,
         |    sum(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM base)
         |SELECT source, doc_id, n_bpe_tokens,
         |  CAST(floor((cum - n_bpe_tokens) / $PackCapacity) AS BIGINT) AS pack_id,
         |  CAST((cum - n_bpe_tokens) % $PackCapacity AS BIGINT) AS pack_offset
         |FROM cums ORDER BY source, doc_id""".stripMargin,
  )
}
