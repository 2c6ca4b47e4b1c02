package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared._

/** Corpus-hygiene tier (round 12): cross-document boilerplate-line
  * removal (the CCNet/RefinedWeb "remove lines repeated across many
  * pages of a site" pass — the reference's per-record normalize_text
  * cleaning, `silver/transformer.py` F1, has no cross-document view)
  * and bottom-k sketch corpus-overlap estimation (how much of corpus B
  * is already in corpus A — the question every new crawl snapshot
  * asks — WITHOUT joining the corpora).
  */
private[graft] object CorpusHygieneQueries {

  /** Cross-document BOILERPLATE line removal: a line that appears in at
    * least half of a source's documents is site furniture (header /
    * footer / nav), not content, and is dropped from every document —
    * per SOURCE, because boilerplate is a property of the site template,
    * not the corpus. The corpus is single-line synthetic text, so the
    * fixture injects the lines a real crawl would carry: every doc gets
    * a per-source subscribe header (appears in 100% of the source →
    * always removed) and even doc_ids get a copyright footer (~50% —
    * sits ON the integer threshold `2·n_docs_with_line ≥ n_docs_source`,
    * so the per-source parity split decides removal; exact integer
    * compare, no float ratio). Body lines are unique and survive.
    *
    * Scale: line occurrences shuffle once on (source, line) for the
    * census; the per-source doc counts broadcast; the rewrite
    * re-assembles surviving lines per doc with a sorted collect_list —
    * bounded by lines-per-doc, never a global sort. Output pins the
    * removal accounting per source plus the rolling fingerprint sum of
    * every cleaned document, so a wrongly dropped/kept line anywhere
    * flips the hash. */
  private val textBoilerplate: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val lined = docs
      .withColumn("lines",
        concat(
          array(concat_ws(" ", lit("subscribe to the"), col("source"), lit("newsletter"))),
          array(col("text")),
          when(col("doc_id") % 2 === 0,
            array(concat_ws(" ", lit("copyright"), col("source"), lit("all rights reserved"))))
            .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), col("source"), posexplode(col("lines")).as(Seq("line_idx", "line")))
    val srcSize = docs.groupBy("source").agg(countDistinct("doc_id").as("n_docs_src"))
    val lineCensus = lined.groupBy("source", "line")
      .agg(countDistinct("doc_id").as("n_docs_line"))
      .join(broadcast(srcSize), "source")
      .withColumn("is_boiler", col("n_docs_line") * 2 >= col("n_docs_src"))
    val tagged = lined.join(lineCensus.select("source", "line", "is_boiler"),
      Seq("source", "line"))
    val cleaned = tagged.filter(!col("is_boiler"))
      .groupBy("doc_id", "source")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(line_idx, line)))," +
        " x -> x.line), ' ')").as("clean_text"))
    val removal = tagged.filter(col("is_boiler"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_lines_removed"),
        countDistinct("line").as("n_boiler_lines"))
    cleaned.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("graft_str_fp(clean_text)")).as("clean_fp_sum"))
      .join(removal, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_boiler_lines"), lit(0L)).as("n_boiler_lines"),
        coalesce(col("n_lines_removed"), lit(0L)).as("n_lines_removed"),
        col("clean_fp_sum"))
      .orderBy("source")
  }

  /** Bottom-k sketch size. Error of the Jaccard estimator is
    * O(1/sqrt(k)) — 256 gives ~6 points of expected error, enough to
    * answer "mostly new vs mostly seen" for a crawl snapshot at the
    * cost of two 256-row sketches instead of a corpus join. */
  private val SketchK = 256

  /** Corpus-overlap estimation via BOTTOM-K sketches (Broder's minwise
    * coordinated-sample estimator, the corpus-level twin of per-doc
    * MinHash): corpora A = doc_id%3 ∈ {0,1} and B = doc_id%3 ∈ {1,2}
    * overlap in the %3==1 third by construction. Each corpus keeps the
    * k smallest DISTINCT content fingerprints; because both sketches
    * are induced by the same global hash order, the k smallest of
    * A ∪ B is a uniform coordinated sample of the union, and the
    * fraction of that sample present in both sketches estimates
    * J(A, B). The estimator is pure integer arithmetic over
    * deterministic fingerprints, so the battery pins its exact value;
    * the same row carries the exact join-based Jaccard as the audit
    * (at 100 TB the audit side runs over a sample — the sketch path is
    * two TakeOrdered(k) scans + a k-row merge, no corpus join, and
    * sketches persist/merge across snapshots like any monoid). */
  private val corpusJaccardSketch: Q = (s, d) => {
    val fps = Tables.documents(s, d)
      .select(col("doc_id"), expr("graft_str_fp(text)").as("fp"))
      .filter(col("fp").isNotNull) // null text sorts first in Spark but
      // last in DuckDB — keep it out of the order-sensitive sketch
    val a = fps.filter(col("doc_id") % 3 < 2).select("fp").distinct()
    val b = fps.filter(col("doc_id") % 3 >= 1).select("fp").distinct()
    val ka = a.orderBy("fp").limit(SketchK).withColumn("in_a", lit(1L))
    val kb = b.orderBy("fp").limit(SketchK).withColumn("in_b", lit(1L))
    val unionK = ka.join(kb, Seq("fp"), "full")
      .select(col("fp"), coalesce(col("in_a"), lit(0L)).as("in_a"),
        coalesce(col("in_b"), lit(0L)).as("in_b"))
      .orderBy("fp").limit(SketchK)
    val est = unionK.agg(count(lit(1)).as("sketch_k"),
      sum(col("in_a") * col("in_b")).as("n_both"))
    val exact = a.withColumn("ea", lit(1L))
      .join(b.withColumn("eb", lit(1L)), Seq("fp"), "full")
      .agg(count(lit(1)).as("n_union"),
        sum(coalesce(col("ea"), lit(0L)) * coalesce(col("eb"), lit(0L))).as("n_inter"))
    // greatest(…, 1) denominators: the empty-corpus regime (routine at
    // the head of a backfill) must yield 0 bp, not an ANSI divide error
    est.crossJoin(exact)
      .select(col("sketch_k"), coalesce(col("n_both"), lit(0L)).as("n_both"),
        expr("coalesce(n_both, 0) * 10000 div greatest(sketch_k, 1)").as("est_jaccard_bp"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"), col("n_union"),
        expr("coalesce(n_inter, 0) * 10000 div greatest(n_union, 1)").as("true_jaccard_bp"))
  }

  /** CORPUS CARD — the per-source datasheet a training-data owner
    * reads before mixing a source in (Gebru et al. "Datasheets for
    * Datasets", reduced to the relationally-derivable rows): volume
    * (docs, whitespace tokens), exact-duplication rate (corpus-wide
    * digest multiplicity, attributed per source, in basis points),
    * language profile (distinct langs + dominant lang, ties to the
    * lexicographically larger code on both engines), and the median
    * length bucket (the agg_hist_quantile grid). One wide row per
    * source, every cell an already-verified metric recomputed through
    * its own aggregate — the composition pins the JOINS between them.
    * Scale: four per-source aggregates + one digest census, each a
    * single hash shuffle; the final assembly joins 4-row frames. */
  private val e2eCorpusCard: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        sha2(col("text"), 256).as("digest"),
        least(expr("n_chars div 200"), lit(29L)).as("bucket"))
    val dupDigests = base.groupBy("digest").agg(count(lit(1)).as("m"))
      .filter(col("m") > 1).select("digest")
    val vol = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      countDistinct("lang").as("n_langs"))
    val dups = base.join(dupDigests, Seq("digest"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup_docs"))
    val topLang = base.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(max(struct(col("c"), col("lang"))).getField("lang").as("top_lang"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bucket")
    val p50 = base.groupBy("source", "bucket").agg(count(lit(1)).as("n"))
      .withColumn("cum", sum("n").over(w))
      .withColumn("total", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .groupBy("source")
      .agg(min(when(col("cum") * 2 >= col("total"), col("bucket"))).as("p50_bucket"))
    vol.join(dups, Seq("source"), "left")
      .join(topLang, Seq("source"))
      .join(p50, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        expr("coalesce(n_dup_docs, 0L) * 10000 DIV n_docs").as("dup_bp"),
        col("n_langs"), col("top_lang"),
        ((col("p50_bucket") + 1) * 200).as("p50_len_upper"))
      .orderBy("source")
  }

  /** N-GRAM ENTROPY census (r13) — the corpus-DIVERSITY metric the
    * dedup family cannot see: a corpus can be pairwise-unique yet
    * collapsed onto a few templates (the failure mode of synthetic /
    * model-generated data), and trigram Shannon entropy measures
    * exactly that. Exact-integer evaluation: H = ln T − (Σ c·ln c)/T,
    * each ln collapsing to an e6 INTEGER per trigram type BEFORE the
    * cross-row sum (the LM-family discipline), so the per-source
    * entropy is an exact integer both engines share. Shape: one
    * (source, trigram)-keyed count aggregate (partial/final — the hot
    * keys are per-source, no global state), one per-source rollup. */
  private val textNgramEntropy: Q = (s, d) => {
    val tri = Tables.documents(s, d)
      .selectExpr("source", "split(text, ' ') AS t")
      .filter(size(col("t")) >= 3)
      .selectExpr("source",
        "explode(transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))) AS g")
      .groupBy("source", "g").agg(count(lit(1)).as("c"))
    tri.groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum("c").as("n_grams"),
        sum(expr("c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)")).as("hb"))
      .selectExpr("source", "n_types", "n_grams",
        "CAST(floor(ln(CAST(n_grams AS DOUBLE)) * 1000000) AS BIGINT) " +
          "- hb DIV n_grams AS entropy_e6")
      .orderBy("source")
  }

  /** LENGTH-DISTRIBUTION DRIFT (r13) — the data-drift monitor between
    * two corpus versions (here the deterministic even/odd doc_id
    * halves standing in for yesterday/today): symmetric KL divergence
    * over add-one-smoothed word-count histograms (21 buckets of 10,
    * capped). Drift detection is the gate that decides whether a
    * trained filter/mixture still applies to a new snapshot. Exact
    * integers: per bucket t = c_p·(ln c_p + ln T_q − ln c_q − ln T_p)
    * with every ln e6-floored per value, KL_e6 = Σt / T_p — both
    * engines sum identical integers. Shape: one bucket aggregate per
    * half over the 21-row broadcast domain, a 1-row totals broadcast,
    * one final fold. */
  private val textDistDrift: Q = (s, d) => {
    val buck = Tables.documents(s, d)
      .selectExpr("doc_id % 2 = 0 AS even",
        "CAST(least(size(split(text, ' ')) DIV 10, 20) AS INT) AS bucket")
    val dom = s.range(21).select(col("id").cast("int").as("bucket"))
    def side(even: Boolean, name: String): DataFrame = dom
      .join(buck.filter(col("even") === even).groupBy("bucket")
        .agg(count(lit(1)).as("raw")), Seq("bucket"), "left")
      .select(col("bucket"), (coalesce(col("raw"), lit(0L)) + 1L).as(name))
    val joined = side(even = true, "cp").join(side(even = false, "cq"), "bucket")
    val totals = joined.agg(sum("cp").as("tp"), sum("cq").as("tq"))
    joined.crossJoin(broadcast(totals))
      .selectExpr("cp", "cq", "tp", "tq",
        "cp * (CAST(floor(ln(CAST(cp AS DOUBLE)) * 1000000) AS BIGINT) " +
          "+ CAST(floor(ln(CAST(tq AS DOUBLE)) * 1000000) AS BIGINT) " +
          "- CAST(floor(ln(CAST(cq AS DOUBLE)) * 1000000) AS BIGINT) " +
          "- CAST(floor(ln(CAST(tp AS DOUBLE)) * 1000000) AS BIGINT)) AS tpq",
        "cq * (CAST(floor(ln(CAST(cq AS DOUBLE)) * 1000000) AS BIGINT) " +
          "+ CAST(floor(ln(CAST(tp AS DOUBLE)) * 1000000) AS BIGINT) " +
          "- CAST(floor(ln(CAST(cp AS DOUBLE)) * 1000000) AS BIGINT) " +
          "- CAST(floor(ln(CAST(tq AS DOUBLE)) * 1000000) AS BIGINT)) AS tqp")
      .agg(max("tp").as("n_even_sm"), max("tq").as("n_odd_sm"),
        sum("tpq").as("spq"), sum("tqp").as("sqp"))
      // KL >= 0 mathematically; the per-value e6 floors can leave a tiny
      // negative residue, clamped BEFORE the division (Spark DIV
      // truncates, DuckDB // floors — they differ only below zero)
      .selectExpr("n_even_sm - 21 AS n_even", "n_odd_sm - 21 AS n_odd",
        "greatest(spq, 0L) DIV n_even_sm AS kl_pq_e6",
        "greatest(sqp, 0L) DIV n_odd_sm AS kl_qp_e6")
  }

  val queries: Seq[(String, Q)] = Seq(
    "e2e_corpus_card" -> e2eCorpusCard,
    "text_boilerplate" -> textBoilerplate,
    "corpus_jaccard_sketch" -> corpusJaccardSketch,
    "text_ngram_entropy" -> textNgramEntropy,
    "text_dist_drift" -> textDistDrift,
  )

  val oracles: Map[String, String] = Map(
    "text_ngram_entropy" ->
      """WITH tri AS (
        |  SELECT source, g, count(*) AS c FROM (
        |    SELECT source, array_to_string(t[u.i:u.i + 2], ' ') AS g
        |    FROM (SELECT source, string_split(text, ' ') AS t FROM documents) x,
        |      UNNEST(generate_series(1, len(t) - 2)) u(i)
        |    WHERE len(t) >= 3) y
        |  GROUP BY source, g)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT)
        |    - CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
        |      AS BIGINT) // CAST(sum(c) AS BIGINT) AS entropy_e6
        |FROM tri GROUP BY source ORDER BY source""".stripMargin,
    "text_dist_drift" -> {
      def l(x: String) = s"CAST(floor(ln(CAST($x AS DOUBLE)) * 1000000) AS BIGINT)"
      s"""WITH buck AS (
         |  SELECT doc_id % 2 = 0 AS even,
         |    CAST(least(len(string_split(text, ' ')) // 10, 20) AS INT) AS bucket
         |  FROM documents),
         |dom AS (SELECT CAST(b AS INT) AS bucket FROM generate_series(0, 20) t(b)),
         |p AS (
         |  SELECT dom.bucket, CAST(coalesce(r.raw, 0) + 1 AS BIGINT) AS cp
         |  FROM dom LEFT JOIN (SELECT bucket, count(*) AS raw FROM buck
         |    WHERE even GROUP BY 1) r USING (bucket)),
         |q AS (
         |  SELECT dom.bucket, CAST(coalesce(r.raw, 0) + 1 AS BIGINT) AS cq
         |  FROM dom LEFT JOIN (SELECT bucket, count(*) AS raw FROM buck
         |    WHERE NOT even GROUP BY 1) r USING (bucket)),
         |j AS (SELECT p.bucket, cp, cq FROM p JOIN q USING (bucket)),
         |tot AS (
         |  SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cq) AS BIGINT) AS tq
         |  FROM j),
         |terms AS (
         |  SELECT cp, cq, tp, tq,
         |    cp * (${l("cp")} + ${l("tq")} - ${l("cq")} - ${l("tp")}) AS tpq,
         |    cq * (${l("cq")} + ${l("tp")} - ${l("cp")} - ${l("tq")}) AS tqp
         |  FROM j, tot)
         |SELECT CAST(max(tp) - 21 AS BIGINT) AS n_even,
         |  CAST(max(tq) - 21 AS BIGINT) AS n_odd,
         |  CAST(greatest(sum(tpq), 0) // max(tp) AS BIGINT) AS kl_pq_e6,
         |  CAST(greatest(sum(tqp), 0) // max(tq) AS BIGINT) AS kl_qp_e6
         |FROM terms""".stripMargin
    },
    "e2e_corpus_card" ->
      """WITH base AS (
        |  SELECT doc_id, source, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    sha256(text) AS digest,
        |    least(n_chars // 200, 29) AS bucket
        |  FROM documents),
        |dupd AS (
        |  SELECT digest FROM base GROUP BY digest HAVING count(*) > 1),
        |vol AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM base GROUP BY source),
        |dups AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_dup_docs
        |  FROM base WHERE digest IN (SELECT digest FROM dupd)
        |  GROUP BY source),
        |lc AS (
        |  SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2),
        |tl AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY c DESC, lang DESC) AS rn
        |    FROM lc) WHERE rn = 1),
        |h AS (
        |  SELECT source, bucket, count(*) AS n FROM base GROUP BY 1, 2),
        |c AS (
        |  SELECT source, bucket, n,
        |    sum(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
        |    sum(n) OVER (PARTITION BY source) AS total
        |  FROM h),
        |p50 AS (
        |  SELECT source,
        |    min(CASE WHEN cum * 2 >= total THEN bucket END) AS p50_bucket
        |  FROM c GROUP BY source)
        |SELECT v.source, v.n_docs, v.n_tokens,
        |  CAST(coalesce(d.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
        |  CAST(coalesce(d.n_dup_docs, 0) * 10000 // v.n_docs AS BIGINT) AS dup_bp,
        |  v.n_langs, t.top_lang,
        |  CAST((p.p50_bucket + 1) * 200 AS BIGINT) AS p50_len_upper
        |FROM vol v
        |LEFT JOIN dups d ON v.source = d.source
        |JOIN tl t ON v.source = t.source
        |JOIN p50 p ON v.source = p.source
        |ORDER BY v.source""".stripMargin,
    "text_boilerplate" ->
      s"""WITH docs AS (
         |  SELECT doc_id, source, text FROM documents),
         |lined AS (
         |  SELECT doc_id, source, 0 AS line_idx,
         |    'subscribe to the ' || source || ' newsletter' AS line FROM docs
         |  UNION ALL
         |  SELECT doc_id, source, 1, text FROM docs
         |  UNION ALL
         |  SELECT doc_id, source, 2,
         |    'copyright ' || source || ' all rights reserved'
         |  FROM docs WHERE doc_id % 2 = 0),
         |src_size AS (
         |  SELECT source, count(DISTINCT doc_id) AS n_docs_src FROM docs GROUP BY source),
         |census AS (
         |  SELECT l.source, l.line,
         |    count(DISTINCT l.doc_id) * 2 >= max(ss.n_docs_src) AS is_boiler
         |  FROM lined l JOIN src_size ss ON l.source = ss.source
         |  GROUP BY l.source, l.line),
         |tagged AS (
         |  SELECT l.doc_id, l.source, l.line_idx, l.line, c.is_boiler
         |  FROM lined l JOIN census c ON l.source = c.source AND l.line = c.line),
         |cleaned AS (
         |  SELECT doc_id, source,
         |    string_agg(line, ' ' ORDER BY line_idx) AS clean_text
         |  FROM tagged WHERE NOT is_boiler GROUP BY doc_id, source),
         |removal AS (
         |  SELECT source, count(*) AS n_lines_removed,
         |    count(DISTINCT line) AS n_boiler_lines
         |  FROM tagged WHERE is_boiler GROUP BY source)
         |SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(max(r.n_boiler_lines), 0) AS BIGINT) AS n_boiler_lines,
         |  CAST(coalesce(max(r.n_lines_removed), 0) AS BIGINT) AS n_lines_removed,
         |  CAST(sum(${duckFp("c.clean_text")}) AS BIGINT) AS clean_fp_sum
         |FROM cleaned c LEFT JOIN removal r ON c.source = r.source
         |GROUP BY c.source ORDER BY c.source""".stripMargin,
    "corpus_jaccard_sketch" ->
      s"""WITH fps AS (
         |  SELECT doc_id, ${duckFp("text")} AS fp FROM documents),
         |a AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 < 2),
         |b AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 >= 1),
         |ka AS (SELECT fp, 1 AS in_a FROM a ORDER BY fp LIMIT $SketchK),
         |kb AS (SELECT fp, 1 AS in_b FROM b ORDER BY fp LIMIT $SketchK),
         |unionk AS (
         |  SELECT coalesce(ka.fp, kb.fp) AS fp,
         |    coalesce(in_a, 0) AS in_a, coalesce(in_b, 0) AS in_b
         |  FROM ka FULL JOIN kb ON ka.fp = kb.fp
         |  ORDER BY fp LIMIT $SketchK),
         |est AS (
         |  SELECT count(*) AS sketch_k, sum(in_a * in_b) AS n_both FROM unionk),
         |exact AS (
         |  SELECT count(*) AS n_union,
         |    sum(CASE WHEN a.fp IS NOT NULL AND b.fp IS NOT NULL
         |      THEN 1 ELSE 0 END) AS n_inter
         |  FROM a FULL JOIN b ON a.fp = b.fp)
         |SELECT CAST(sketch_k AS BIGINT) AS sketch_k,
         |  CAST(n_both AS BIGINT) AS n_both,
         |  CAST(n_both * 10000 // sketch_k AS BIGINT) AS est_jaccard_bp,
         |  CAST(n_inter AS BIGINT) AS n_inter,
         |  CAST(n_union AS BIGINT) AS n_union,
         |  CAST(n_inter * 10000 // n_union AS BIGINT) AS true_jaccard_bp
         |FROM est, exact""".stripMargin,
  )
}
