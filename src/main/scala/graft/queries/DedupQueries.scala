package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared._

/** Text DEDUPLICATION tier (split from PipelineQueries in r10): exact
  * content-hash dedup, MinHash/SimHash signatures and their LSH pair
  * pipelines (batch + incremental + novelty), n-gram Jaccard pairs,
  * connected-component cluster resolution, and duplicated-span
  * coverage. See each query's scaladoc for its 100 TB shuffle shape;
  * every entry is hash-verified against the DuckDB oracles below.
  */
private[queries] object DedupQueries {

  // MinHash permutation parameters (public-domain style a*x+b mod P).
  private val MinhashParams = Seq((1000003L, 12345L), (999983L, 54321L))

  // ------------------------------------------------------------ dedup

  /** Exact dedup by content hash: corpus with injected exact duplicates
    * (every doc_id % 10 == 0 doubled); dedup = distinct on sha2(text).
    * At 100 TB this is a single hash-shuffle groupBy on the digest. */
  private val dedupExact: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val corpus = docs.union(docs.filter(col("doc_id") % 10 === 0))
    corpus.groupBy("source")
      .agg(count(lit(1)).as("n_before"),
        countDistinct(sha2(col("text"), 256)).as("n_after"))
      .orderBy("source")
  }

  /** MinHash signatures + LSH band bucketing: per-word rolling
    * fingerprints, two permutations, min over the word set, band id =
    * (minh1*31 + minh2) mod 1024. Output = bucket histogram (the shuffle
    * key distribution an LSH join would use). */
  private val dedupMinhash: Q = (s, d) => {
    // one fused array pass for both permutations (graft_minhash ==
    // per-perm array_min folds bitwise, TextSketchSpec) — the HOF form
    // is interpreted per character per row
    val spec = MinhashParams.map { case (a, b) => s"$a,$b" }.mkString(";")
    Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
      .selectExpr("doc_id", s"graft_minhash(graft_word_fps(tokens), '$spec') AS sig")
      .selectExpr("doc_id", "sig[0] AS minh1", "sig[1] AS minh2")
      .selectExpr("doc_id", "(minh1 * 31 + minh2) % 1024 AS band_bucket")
      .groupBy("band_bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("band_bucket")
  }

  /** MinHash permutations for the pair pipeline: 4 perms = 2 bands × 2
    * rows. With b bands of r rows, a pair with Jaccard s matches some
    * band with p = 1-(1-s^r)^b — the standard S-curve; r grows (more
    * selective) and b grows (more recall) as the corpus scales, keeping
    * candidate volume per band bounded the same way the LSH bandBits do. */
  private[queries] val MinhashPairParams = Seq(
    (1000003L, 12345L), (999983L, 54321L), (999979L, 11111L), (1000033L, 77777L))

  /** MinHash-LSH near-dup PAIRS — the full canonical pipeline
    * (shingling → minhash signatures → bands → candidate equi-join →
    * exact shingle-Jaccard confirm), complementing `dedup_minhash_lsh`'s
    * bucket histogram: corpus = documents + injected near-dups
    * (doc_id%20==0 with the first token dropped, id+100000). MinHash
    * runs over the 3-SHINGLE set (the item space whose Jaccard it
    * estimates — token-set minhash floods candidates on a small shared
    * vocabulary); band values hash r=2 minhashes each, b=2 bands, so a
    * pair with shingle-similarity s matches with p = 1-(1-s²)² (~0.96
    * for the ~0.9-similar injected dups); the confirm keeps exact
    * Jaccard ≥ 0.6 like `dedup_ngram_jaccard`. LSH recall < 1 by
    * design: the oracle replicates the same bands, so both engines see
    * the identical candidate set. Scale shape: the band value is the
    * shuffle key (never all-pairs), shingle sets are fetched AFTER the
    * pair distinct. */
  private def minhashFoundPairs(s: SparkSession, d: String): DataFrame =
    // memoized (r20): the confirmed-pair table is consumed by BOTH
    // `dedup_minhash_pairs` and `dedup_minhash_recall` — one banded
    // pipeline per session, exactly the persisted-pair-table shape the
    // incremental entries already model. The shingle frame checkpoint
    // also stops the corpus subtree replicating through the band
    // self-join + two set-fetch joins (the before-plan scanned
    // documents.parquet 32× in the recall audit).
    PipelineShared.memo(s, s"minhash_found_pairs|$d")(
      minhashFoundPairsBuild(s, d).localCheckpoint())

  private def minhashFoundPairsBuild(s: SparkSession, d: String): DataFrame = {
    // shingling + 4-perm signatures run as fused native kernels
    // (bitwise == the HOF folds, TextSketchSpec → DuckDB oracle keeps
    // its list_min/list_transform form unchanged)
    val spec = MinhashPairParams.map { case (a, b) => s"$a,$b" }.mkString(";")
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
    val dups = docs.filter(col("doc_id") % 20 === 0)
      .selectExpr("doc_id + 100000 AS doc_id", "slice(tokens, 2, size(tokens) - 1) AS tokens")
    val corpus = docs.union(dups).filter(size(col("tokens")) >= 3)
    val shingled = corpus.selectExpr("doc_id",
      "graft_shingle_set(graft_word_fps(tokens)) AS shset")
      .localCheckpoint()
    val sigs = shingled.selectExpr("doc_id", s"graft_minhash(shset, '$spec') AS sig")
      .selectExpr("doc_id",
        "sig[0] AS minh1", "sig[1] AS minh2", "sig[2] AS minh3", "sig[3] AS minh4")
      .selectExpr("doc_id",
        s"(minh1 * 31 + minh2) % $P AS band_0",
        s"(minh3 * 31 + minh4) % $P AS band_1")
    val bandRows = sigs.selectExpr("doc_id",
      "posexplode(array(band_0, band_1)) AS (band_idx, band_val)")
    val candidates = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_idx") === col("y.band_idx") && col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    candidates
      .join(shingled.select(col("doc_id").as("id_a"), col("shset").as("set_a")), "id_a")
      .join(shingled.select(col("doc_id").as("id_b"), col("shset").as("set_b")), "id_b")
      .selectExpr("id_a", "id_b",
        "CAST(size(array_intersect(set_a, set_b)) AS DOUBLE) / " +
          "(size(set_a) + size(set_b) - size(array_intersect(set_a, set_b))) AS j")
      .filter(col("j") >= 0.6)
      .select(col("id_a"), col("id_b"),
        floor(col("j") * 10000).cast("long").as("jaccard_e4"))
  }

  private val dedupMinhashPairs: Q = (s, d) =>
    minhashFoundPairs(s, d).orderBy("id_a", "id_b")

  /** MinHash pair-recall AUDIT — the Jaccard-space member of the
    * recall-audit family (`sim_recall_at_k` / `dedup_lsh_recall` /
    * `dedup_simhash_recall`): ground truth is the EXACT shingle
    * equi-join pair set (`jaccardPairs`, the same derivation behind
    * `dedup_ngram_jaccard` — itself bucketed, never all-pairs, so this
    * is the one audit whose truth side is production-shaped), found is
    * the banded r=2/b=2 MinHash pipeline. The S-curve predicts a pair
    * at shingle-similarity s surfaces with p = 1-(1-s²)² (~0.96 at the
    * fixture's ~0.9); the pinned recall_bp turns that prediction into a
    * measured, hash-gated number, and a banding/permutation regression
    * moves it. Found ⊆ true up to 64-bit shingle-hash collisions
    * (~1e-15 — both pipelines hash, the oracle joins raw strings). */
  private val dedupMinhashRecall: Q = (s, d) => {
    val brute = jaccardPairsCkpt(s, d).select("id_a", "id_b")
    val found = minhashFoundPairs(s, d)
      .select(col("id_a"), col("id_b"), lit(1L).as("found"))
    brute.join(found, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .withColumn("recall_bp",
        floor(col("n_found") * 10000 / greatest(col("n_true_pairs"), lit(1L))).cast("long"))
  }

  /** Incremental MinHash dedup — the daily-batch shape at 100 TB: an
    * incoming batch is checked against the ESTABLISHED corpus's band
    * index, never against itself and never re-pairing the corpus with
    * itself. The asymmetric band equi-join costs O(batch-bands ⋈
    * matching corpus-bands); in production the corpus side is the
    * PERSISTED signature table (doc_id, band_idx, band_val — exactly
    * the `TableMerge`-upserted index shape `i6_index_incremental`
    * maintains), so a day's merge re-shingles only the new documents.
    * Batch fixture: the held-out doc_id%10==0 docs plus near-dup
    * variants of corpus docs (first token dropped, id+200000) that must
    * match their source. Same r=2/b=2 bands + exact-Jaccard ≥ 0.6
    * confirm as `dedup_minhash_pairs`. */
  private val dedupIncremental: Q = (s, d) => {
    val spec = MinhashPairParams.map { case (a, b) => s"$a,$b" }.mkString(";")
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
    val corpusDocs = docs.filter(col("doc_id") % 10 =!= 0)
    val batchDocs = docs.filter(col("doc_id") % 10 === 0)
      .union(corpusDocs.filter(col("doc_id") % 20 === 5)
        .selectExpr("doc_id + 200000 AS doc_id",
          "slice(tokens, 2, size(tokens) - 1) AS tokens"))
    def shingled(df: DataFrame): DataFrame =
      df.filter(size(col("tokens")) >= 3)
        .selectExpr("doc_id", "graft_shingle_set(graft_word_fps(tokens)) AS shset")
    def bandRows(sh: DataFrame): DataFrame =
      sh.selectExpr("doc_id", s"graft_minhash(shset, '$spec') AS sig")
        .selectExpr("doc_id",
          s"(sig[0] * 31 + sig[1]) % $P AS band_0",
          s"(sig[2] * 31 + sig[3]) % $P AS band_1")
        .selectExpr("doc_id", "posexplode(array(band_0, band_1)) AS (band_idx, band_val)")
    val corpusSh = shingled(corpusDocs)
    val batchSh = shingled(batchDocs)
    val candidates = bandRows(batchSh).as("b")
      .join(bandRows(corpusSh).as("c"),
        col("b.band_idx") === col("c.band_idx") && col("b.band_val") === col("c.band_val"))
      .select(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    candidates
      .join(batchSh.select(col("doc_id").as("batch_id"), col("shset").as("set_b")), "batch_id")
      .join(corpusSh.select(col("doc_id").as("corpus_id"), col("shset").as("set_c")), "corpus_id")
      .selectExpr("batch_id", "corpus_id",
        "CAST(size(array_intersect(set_b, set_c)) AS DOUBLE) / " +
          "(size(set_b) + size(set_c) - size(array_intersect(set_b, set_c))) AS j")
      .filter(col("j") >= 0.6)
      .select(col("batch_id"), col("corpus_id"),
        floor(col("j") * 10000).cast("long").as("jaccard_e4"))
      .orderBy("batch_id", "corpus_id")
  }

  /** Persisted band-index MAINTENANCE — the write half of the
    * incremental-dedup cycle that `dedup_incremental` (read) and
    * `dedup_novel_filter` (filter) assume exists: the corpus's MinHash
    * band signatures live in a versioned [[graft.operators.TableMerge]]
    * table, and a day's ingest UPSERTs its band rows keyed by
    * (doc_id, band_idx) — new documents insert, re-scraped documents
    * REPLACE their stale signatures in place. The fixture exercises
    * both: held-out %10==0 docs (insert) plus re-scrapes of the %20==5
    * corpus docs with the first token dropped under the SAME doc_id
    * (replace — unless the trim leaves <3 tokens, in which case the old
    * rows correctly survive). The output reads the LIVE index and
    * time-travels to the pre-merge snapshot to count actual signature
    * replacements, pinning create→upsert→read-back→time-travel in one
    * oracle row per band: entry/doc/bucket/max-bucket stats (exact
    * distincts here; at 100 TB the same summary runs on the mergeable
    * HLL sketches) plus n_replaced and the retained version count.
    * State is sf-keyed and wiped per run, so repeated bench passes
    * measure one deterministic create+upsert, not a version pileup. */
  private val dedupIndexMaintain: Q = (s, d) => {
    import graft.operators.TableMerge
    val spec = MinhashPairParams.map { case (a, b) => s"$a,$b" }.mkString(";")
    val path = wipedStatePath(s"bandidx_${new java.io.File(d).getName}")
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
    val corpusDocs = docs.filter(col("doc_id") % 10 =!= 0)
    val batchDocs = docs.filter(col("doc_id") % 10 === 0)
      .union(corpusDocs.filter(col("doc_id") % 20 === 5)
        .selectExpr("doc_id", "slice(tokens, 2, size(tokens) - 1) AS tokens"))
    def bandRows(df: DataFrame): DataFrame =
      df.filter(size(col("tokens")) >= 3)
        .selectExpr("doc_id",
          s"graft_minhash(graft_shingle_set(graft_word_fps(tokens)), '$spec') AS sig")
        .selectExpr("doc_id",
          s"(sig[0] * 31 + sig[1]) % $P AS band_0",
          s"(sig[2] * 31 + sig[3]) % $P AS band_1")
        .selectExpr("doc_id", "posexplode(array(band_0, band_1)) AS (band_idx, band_val)")
    TableMerge.createOrReplace(bandRows(corpusDocs), path)
    TableMerge.upsert(s, path, bandRows(batchDocs), Seq("doc_id", "band_idx"))
    val versions = TableMerge.versions(path)
    val pre = TableMerge.readVersion(s, path, versions.last)
    val live = TableMerge.read(s, path)
    val replaced = live.select(col("doc_id"), col("band_idx"), col("band_val"))
      .join(pre.select(col("doc_id"), col("band_idx"), col("band_val").as("old_val")),
        Seq("doc_id", "band_idx"))
      .filter(col("band_val") =!= col("old_val"))
      .groupBy("band_idx").agg(count(lit(1)).as("n_replaced"))
    val bstats = live.groupBy("band_idx", "band_val").agg(count(lit(1)).as("n"))
      .groupBy("band_idx")
      .agg(sum("n").as("n_entries"), count(lit(1)).as("n_buckets"),
        max("n").as("max_bucket"))
    val dstats = live.groupBy("band_idx").agg(countDistinct("doc_id").as("n_docs"))
    bstats.join(dstats, "band_idx").join(replaced, Seq("band_idx"), "left")
      .select(col("band_idx").cast("long").as("band_idx"),
        col("n_entries"), col("n_docs"), col("n_buckets"), col("max_bucket"),
        coalesce(col("n_replaced"), lit(0L)).as("n_replaced"),
        lit(versions.size.toLong).as("n_versions"))
      .orderBy("band_idx")
  }

  /** MinHash band projection of a documents frame (doc_id, text) →
    * (doc_id, band_0, band_1): 3-shingle set → k-permutation signature →
    * r=2 banded values, the same construction `dedup_incremental` uses.
    * Every step is a per-row projection through the native graft
    * kernels. Documents shorter than one shingle (< 3 tokens) carry no
    * signature and are excluded here — [[novelDocuments]] passes them
    * through as novel. */
  private def minhashBands(docs: DataFrame, spec: String): DataFrame =
    docs.selectExpr("doc_id", "split(text, ' ') AS tokens")
      .filter(size(col("tokens")) >= 3)
      .selectExpr("doc_id", "graft_shingle_set(graft_word_fps(tokens)) AS shset")
      .selectExpr("doc_id", s"graft_minhash(shset, '$spec') AS sig")
      .selectExpr("doc_id",
        s"(sig[0] * 31 + sig[1]) % $P AS band_0",
        s"(sig[2] * 31 + sig[3]) % $P AS band_1")

  /** Stored-corpus band index (doc_id, band_idx, band_val) — the
    * persistable table the incremental dedup maintains; build once from
    * the corpus, then the novelty filter joins against it. */
  private def corpusBandIndex(docs: DataFrame, spec: String): DataFrame =
    minhashBands(docs, spec)
      .selectExpr("doc_id", "posexplode(array(band_0, band_1)) AS (band_idx, band_val)")

  /** Novelty filter: a doc is certified novel iff NONE of its bands
    * collide with the stored corpus index. Two chained LEFT ANTI joins
    * (one per band), no aggregation — the corpus index is the only
    * state. Collision docs (the ones filtered out here) are near-dup
    * CANDIDATES; the exact-Jaccard confirm is `dedup_incremental`'s
    * role, so no shingle sets are buffered. Sub-shingle-length docs
    * union back in as novel. At scale the index table should be stored
    * bucketed by band_val (co-located join) rather than broadcast — the
    * corpus index of a 100 TB corpus is itself large. */
  private def novelDocuments(docs: DataFrame, corpusIndex: DataFrame, spec: String): DataFrame = {
    val bands = minhashBands(docs, spec)
    val idx0 = corpusIndex.filter(col("band_idx") === 0)
      .select(col("band_val").as("cb0")).distinct()
    val idx1 = corpusIndex.filter(col("band_idx") === 1)
      .select(col("band_val").as("cb1")).distinct()
    val shorts = docs.selectExpr("doc_id", "split(text, ' ') AS tokens")
      .filter(size(col("tokens")) < 3).select("doc_id")
    bands
      .join(idx0, col("band_0") === col("cb0"), "left_anti")
      .join(idx1, col("band_1") === col("cb1"), "left_anti")
      .select("doc_id")
      .union(shorts)
  }

  /** Novelty FILTER over a batch vs the stored corpus band index
    * ([[novelDocuments]] under the hash gate): a doc is novel iff NONE
    * of its minhash bands collide with the corpus index. Complements
    * `dedup_incremental`, which emits the CONFIRMED near-dup pairs; this
    * emits the certified-novel side — the set a daily ingest would
    * append without any exact-Jaccard work. Same fixture as
    * dedup_incremental. */
  private val dedupNovelFilter: Q = (s, d) => {
    val spec = MinhashPairParams.map { case (a, b) => s"$a,$b" }.mkString(";")
    val docs = Tables.documents(s, d)
    val corpusDocs = docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
    val batchDocs = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      .union(docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 20 === 5)
        .selectExpr("doc_id + 200000 AS doc_id",
          "concat_ws(' ', slice(split(text, ' '), 2, size(split(text, ' ')) - 1)) AS text"))
    novelDocuments(batchDocs, corpusBandIndex(corpusDocs, spec), spec)
      .orderBy("doc_id")
  }

  /** N-gram (3-shingle) Jaccard near-dup detection: corpus = documents +
    * injected near-duplicates (doc_id%20==0, first token dropped, id +
    * 100000); candidate pairs come from an equi-join on shingles (the
    * scale-safe shape — never an all-pairs cross join), Jaccard ≥ 0.6.
    *
    * Plan notes (r4): shingles are xxhash64'd before the self-join — the
    * shuffle moves 8-byte keys instead of ~25-byte strings (a 64-bit
    * collision inside one doc pair is ~1e-15 at this shingle count, far
    * below the oracle's float grid). Per-doc sizes stay a separate
    * aggregate joined AFTER the pair aggregation: fusing them into the
    * exploded self-join keeps the shingle array alive inside the join
    * rows (measured 4× slower at sf0.1). The size joins carry no hint —
    * sizes is per-document (not dim-sized), so AQE decides broadcast vs
    * shuffle from actual runtime size. */
  /** Memoized CHECKPOINTED Jaccard pair set (r20, the [[PipelineShared.memo]]
    * artifact rationale): the candidate-pair table is a persisted
    * artifact in a production dedup pipeline — the cluster-resolution
    * (`dedup_connected_components`), canonical-selection
    * (`dedup_canonical`), pair-listing (`dedup_ngram_jaccard`) and
    * recall-audit (`dedup_minhash_recall`) consumers all read the SAME
    * pair derivation, so queries sharing a JVM share one shingle
    * self-join instead of re-running it per consumer. Deterministic
    * function of `d`; DeterminismSpec clears the memo between its
    * shuffle-width runs. */
  private[queries] def jaccardPairsCkpt(s: SparkSession, d: String): DataFrame =
    PipelineShared.memo(s, s"jaccard_pairs|$d")(jaccardPairs(s, d).localCheckpoint())

  /** Memoized cluster assignment over [[jaccardPairsCkpt]] — the
    * (id, cluster_id) table `dedup_connected_components` and
    * `dedup_canonical` both serve from (a production pipeline persists
    * cluster ids next to the pair table; the propagation rounds run
    * once per corpus snapshot, not once per reader). The returned frame
    * is the CC loop's own final checkpoint. */
  private[queries] def jaccardComponentsCkpt(s: SparkSession, d: String): DataFrame =
    PipelineShared.memo(s, s"jaccard_cc|$d")(
      graft.operators.DedupClusters.connectedComponents(
        jaccardPairsCkpt(s, d).select("id_a", "id_b"), "id_a", "id_b"))

  /** Shared pair derivation for the Jaccard dedup + clustering queries. */
  private[queries] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
    val dups = docs.filter(col("doc_id") % 20 === 0)
      .selectExpr("doc_id + 100000 AS doc_id", "slice(tokens, 2, size(tokens) - 1) AS tokens")
    val corpus = docs.union(dups).filter(size(col("tokens")) >= 3)
    // 64-bit shingle JOIN KEYS from a fused native kernel — the DuckDB
    // oracle joins on the string shingles themselves, so the hash
    // function is free to differ (TextSketchSpec pins set sizes and
    // dup-doc set equality); replaces an interpreted transform doing
    // per-window string concat + xxhash64
    val shingles = corpus.selectExpr("doc_id",
      "explode(graft_shingle_hash64(tokens)) AS shingle")
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val pairs = shingles.as("a")
      .join(shingles.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("n_shingles", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("n_shingles", "size_b"), "id_b")
      .withColumn("jaccard_raw",
        col("n_common") / (col("size_a") + col("size_b") - col("n_common")))
      .filter(col("jaccard_raw") >= 0.6)
      .select(col("id_a"), col("id_b"),
        floor(col("jaccard_raw") * 10000).cast("long").as("jaccard_e4"))
  }

  private val dedupJaccard: Q = (s, d) =>
    jaccardPairsCkpt(s, d).orderBy("id_a", "id_b")

  /** Near-dup CLUSTER resolution: Jaccard candidate pairs → connected
    * components (iterative min-label propagation,
    * [[graft.operators.DedupClusters]]) → cluster id + representative
    * flag per member. The DuckDB oracle recomputes components via a
    * recursive transitive-closure CTE — the distributed iterative
    * algorithm is value-verified against an exact declarative one. */
  private val dedupComponents: Q = (s, d) =>
    graft.operators.DedupClusters.representatives(jaccardComponentsCkpt(s, d))
      .orderBy("id")

  /** Duplicated-SPAN coverage per document (the substring-dedup view of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2021, re-expressed relationally): for every document, the
    * fraction of its tokens lying inside a 5-token window that also
    * occurs verbatim in ANOTHER document. Pair-level dedup
    * (`dedup_ngram_jaccard`) asks "is this whole doc a near-copy?";
    * span coverage asks "how much of this doc is boilerplate /
    * cross-doc duplicated text?" — the metric used to trim templated
    * headers, license footers and quoted passages out of training
    * corpora without dropping whole documents.
    *
    * Fixture: documents, plus a shared 12-token boilerplate footer
    * appended to every doc_id % 7 == 0 (the templated-footer class),
    * plus the usual near-dup copies (doc_id % 20 == 0, first token
    * dropped, id + 100000 — these should surface with ~full coverage).
    *
    * Shape, per 100 TB posture: positional window hashes from the
    * fused native kernel (8-byte keys, no strings past the scan);
    * "occurs in another doc" = groupBy(shingle) with a partial-agg
    * count-distinct-ish reduction (two-level exact countDistinct on an
    * 8-byte key); flagged offsets come back via a LEFT SEMI join on the
    * hash; overlapping windows merge with ONE per-doc window pass
    * (sum of min(K, gap)) — never materializing per-token rows. Three
    * shuffles total (shingle, shingle, doc_id), all on compact keys;
    * the per-doc window is bounded by document length. The DuckDB twin
    * groups on the string 5-grams themselves, so the 64-bit kernel hash
    * is a join key only (collision odds ~1e-15, same contract as
    * `dedup_ngram_jaccard`). */
  private val SpanK = 5
  private val SpanBoiler =
    "terms of use all rights reserved contact us at example dot org"

  /** The span fixture's corpus: boilerplate-suffixed docs plus the
    * %20 offset-sliced duplicates. Shared by coverage and rewrite. */
  private def spanCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).selectExpr("doc_id",
      s"CASE WHEN doc_id % 7 = 0 THEN concat(text, ' ', '$SpanBoiler') ELSE text END AS text")
    val docs = base.selectExpr("doc_id", "split(text, ' ') AS tokens")
    val dups = docs.filter(col("doc_id") % 20 === 0)
      .selectExpr("doc_id + 100000 AS doc_id", "slice(tokens, 2, size(tokens) - 1) AS tokens")
    docs.union(dups).filter(size(col("tokens")) >= SpanK)
  }

  /** Session-memoized duplicated-window POSITION table (r21): the
    * (doc_id, n_tokens, pos) rows of every flagged 5-token window —
    * the artifact a substring-dedup pipeline persists (Lee et al.'s
    * duplicate-span index) and that BOTH `dedup_span_coverage` (window
    * merge + coverage fold) and `dedup_span_rewrite` (starts collect +
    * token edit) consume; each previously re-ran the identical
    * tokenize → positional-shingle explode → min≠max reduction →
    * semi-join. Deterministic; DeterminismSpec clears the memo. */
  private def spanFlaggedCkpt(s: SparkSession, d: String): DataFrame =
    PipelineShared.memo(s, s"span_flags|$d") {
      val sh = spanCorpus(s, d)
        .selectExpr("doc_id", "CAST(size(tokens) AS BIGINT) AS n_tokens", "tokens")
        .select(col("doc_id"), col("n_tokens"),
          posexplode(expr(s"graft_shingle_hashes(tokens, $SpanK)")).as(Seq("pos", "shingle")))
        .filter(col("shingle").isNotNull)
      // shingles seen in >1 distinct doc — the "duplicated" window set.
      // min(doc)≠max(doc) ⟺ ≥2 distinct docs, but unlike countDistinct
      // it is a plain partial-aggregatable pair (no per-group distinct
      // expand), so the map side collapses each partition's occurrences
      // before the shingle shuffle.
      val multi = sh.groupBy("shingle")
        .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
        .filter(col("d0") =!= col("d1"))
        .select("shingle")
      sh.join(multi, Seq("shingle"), "left_semi")
        .select("doc_id", "n_tokens", "pos")
        .localCheckpoint()
    }

  private val dedupSpanCoverage: Q = (s, d) => {
    val K = SpanK
    val flagged = spanFlaggedCkpt(s, d)
    // merge overlapping/adjacent windows per doc: first flagged window
    // contributes K tokens, each later one min(K, gap to predecessor)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val perDoc = flagged
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("contrib",
        when(col("prev").isNull, lit(K))
          .otherwise(least(lit(K), col("pos") - col("prev"))))
      .groupBy("doc_id", "n_tokens")
      .agg(sum("contrib").as("dup_tokens"))
    perDoc
      .withColumn("dup_frac_e4",
        floor(col("dup_tokens") * lit(10000.0) / col("n_tokens")).cast("long"))
      .select("doc_id", "n_tokens", "dup_tokens", "dup_frac_e4")
      .orderBy("doc_id")
  }

  /** Span REWRITE — the edit half of substring dedup (Lee et al. 2021
    * actually REMOVE duplicated spans and keep the rest of the
    * document; `dedup_span_coverage` only measures them). Same fixture
    * and flag pipeline as span coverage (positional 5-token window
    * hashes from the fused kernel; duplicated ⟺ the window occurs in
    * ≥2 distinct docs via the partial-aggregatable min≠max pair), then:
    * flagged window STARTS collapse to one bounded array per document
    * (collect_list after the semi join — bounded by doc length), a
    * single doc_id equi-join attaches the token arrays of ONLY the
    * affected documents, and the edit itself is a codegen'd
    * higher-order projection — `filter(tokens, (t,i) -> no flagged
    * window covers i)` — entirely map-side. Output pins the exact
    * reconstruction via token counts plus the portable rolling
    * fingerprint of the reassembled text, so a off-by-one in window
    * coverage moves a hashed value, not a vibe. Shuffle budget matches
    * span coverage (shingle ×2, doc_id) plus the tokens attach. */
  private val dedupSpanRewrite: Q = (s, d) => {
    val K = SpanK
    // flagged-window positions come from the shared memoized artifact
    // (identical fixture and kernel to span coverage, r21); only the
    // token-attach pass tokenizes here
    val corpus = spanCorpus(s, d)
    val starts = spanFlaggedCkpt(s, d)
      .groupBy("doc_id").agg(sort_array(collect_list("pos")).as("starts"))
    corpus.join(starts, Seq("doc_id"))
      .withColumn("kept",
        expr(s"filter(tokens, (t, i) -> NOT exists(starts, p -> i >= p AND i < p + $K))"))
      .selectExpr("doc_id",
        "CAST(size(tokens) AS BIGINT) AS n_tokens",
        "CAST(size(kept) AS BIGINT) AS n_kept",
        "graft_str_fp(concat_ws(' ', kept)) AS kept_fp")
      .orderBy("doc_id")
  }

  private val duckMinh = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
    s"list_min(list_transform(tokens, w -> ($a * ${duckFp("w")} + $b) % $P)) AS minh${i + 1}"
  }


  val queries: Seq[(String, Q)] = FuzzyDedupQueries.queries ++ Seq(
    "dedup_exact" -> dedupExact,
    "dedup_minhash_lsh" -> dedupMinhash,
    "dedup_minhash_pairs" -> dedupMinhashPairs,
    "dedup_minhash_recall" -> dedupMinhashRecall,
    "dedup_incremental" -> dedupIncremental,
    "dedup_index_maintain" -> dedupIndexMaintain,
    "dedup_ngram_jaccard" -> dedupJaccard,
    "dedup_connected_components" -> dedupComponents,
    "dedup_span_coverage" -> dedupSpanCoverage,
    "dedup_span_rewrite" -> dedupSpanRewrite,
    "dedup_novel_filter" -> dedupNovelFilter,
  )

  val oracles: Map[String, String] = FuzzyDedupQueries.oracles ++ Map(
    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT * FROM documents
        |  UNION ALL SELECT * FROM documents WHERE doc_id % 10 = 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_after
        |FROM corpus GROUP BY source ORDER BY source""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |sigs AS (SELECT doc_id, ${duckMinh.mkString(", ")} FROM toks)
         |SELECT (minh1 * 31 + minh2) % 1024 AS band_bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM sigs GROUP BY band_bucket ORDER BY band_bucket""".stripMargin,
    "dedup_minhash_pairs" -> {
      val duckMinhPair = MinhashPairParams.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(shset, x -> ($a * x + $b) % $P)) AS minh${i + 1}"
      }
      s"""WITH docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, tokens[2:] AS tokens
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
         |  WHERE doc_id % 20 = 0),
         |wf AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM docs WHERE len(tokens) >= 3),
         |shingled AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM wf),
         |sigs AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhPair.mkString(", ")} FROM shingled)),
         |cand AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM sigs x JOIN sigs y ON x.band_0 = y.band_0 AND x.doc_id < y.doc_id
         |  UNION
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM sigs x JOIN sigs y ON x.band_1 = y.band_1 AND x.doc_id < y.doc_id),
         |confirmed AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
         |      / (len(sa.shset) + len(sb.shset) - len(list_intersect(sa.shset, sb.shset))) AS j
         |  FROM cand
         |  JOIN shingled sa ON sa.doc_id = id_a
         |  JOIN shingled sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, CAST(floor(j * 10000) AS BIGINT) AS jaccard_e4
         |FROM confirmed WHERE j >= 0.6 ORDER BY id_a, id_b""".stripMargin
    },
    "dedup_minhash_recall" -> {
      // truth = the exact string-shingle equi-join pair set (the
      // dedup_ngram_jaccard CTEs); found = the banded minhash pipeline
      // (the dedup_minhash_pairs CTEs); recall in basis points
      val duckMinhRec = MinhashPairParams.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(shset, x -> ($a * x + $b) % $P)) AS minh${i + 1}"
      }
      s"""WITH docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, tokens[2:] AS tokens
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
         |  WHERE doc_id % 20 = 0),
         |corpus AS (SELECT * FROM docs WHERE len(tokens) >= 3),
         |str_sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tokens) - 2),
         |    i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]))) AS shingle
         |  FROM corpus),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM str_sh GROUP BY doc_id),
         |str_pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM str_sh a JOIN str_sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |brute AS (
         |  SELECT id_a, id_b FROM str_pairs
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(n_common AS DOUBLE)
         |    / (sa.n_shingles + sb.n_shingles - n_common) >= 0.6),
         |wf AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM corpus),
         |shingled AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM wf),
         |sigs AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhRec.mkString(", ")} FROM shingled)),
         |cand AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM sigs x JOIN sigs y ON x.band_0 = y.band_0 AND x.doc_id < y.doc_id
         |  UNION
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM sigs x JOIN sigs y ON x.band_1 = y.band_1 AND x.doc_id < y.doc_id),
         |found AS (
         |  SELECT id_a, id_b
         |  FROM cand
         |  JOIN shingled sa ON sa.doc_id = id_a
         |  JOIN shingled sb ON sb.doc_id = id_b
         |  WHERE CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
         |    / (len(sa.shset) + len(sb.shset) - len(list_intersect(sa.shset, sb.shset))) >= 0.6)
         |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
         |  CAST(sum(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  CAST(floor(sum(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END) * 10000
         |    / greatest(count(*), 1)) AS BIGINT) AS recall_bp
         |FROM brute b LEFT JOIN found f ON b.id_a = f.id_a AND b.id_b = f.id_b""".stripMargin
    },
    "dedup_incremental" -> {
      val duckMinhInc = MinhashPairParams.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(shset, x -> ($a * x + $b) % $P)) AS minh${i + 1}"
      }
      s"""WITH all_docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |corpus AS (SELECT * FROM all_docs WHERE doc_id % 10 <> 0),
         |batch AS (
         |  SELECT doc_id, tokens FROM all_docs WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, tokens[2:] AS tokens
         |  FROM corpus WHERE doc_id % 20 = 5),
         |cw AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM corpus WHERE len(tokens) >= 3),
         |bw AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM batch WHERE len(tokens) >= 3),
         |csh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM cw),
         |bsh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM bw),
         |csig AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhInc.mkString(", ")} FROM csh)),
         |bsig AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhInc.mkString(", ")} FROM bsh)),
         |cand AS (
         |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
         |  FROM bsig b JOIN csig c ON b.band_0 = c.band_0
         |  UNION
         |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
         |  FROM bsig b JOIN csig c ON b.band_1 = c.band_1),
         |confirmed AS (
         |  SELECT batch_id, corpus_id,
         |    CAST(len(list_intersect(sb.shset, sc.shset)) AS DOUBLE)
         |      / (len(sb.shset) + len(sc.shset)
         |         - len(list_intersect(sb.shset, sc.shset))) AS j
         |  FROM cand
         |  JOIN bsh sb ON sb.doc_id = batch_id
         |  JOIN csh sc ON sc.doc_id = corpus_id)
         |SELECT batch_id, corpus_id, CAST(floor(j * 10000) AS BIGINT) AS jaccard_e4
         |FROM confirmed WHERE j >= 0.6 ORDER BY batch_id, corpus_id""".stripMargin
    },
    "dedup_index_maintain" -> {
      // the merged index is modeled relationally: corpus band rows
      // minus keys the batch upsert replaces, plus the batch rows;
      // n_replaced counts keys whose band_val actually changed
      val duckMinhIdx = MinhashPairParams.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(shset, x -> ($a * x + $b) % $P)) AS minh${i + 1}"
      }
      s"""WITH all_docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |corpus AS (SELECT * FROM all_docs WHERE doc_id % 10 <> 0),
         |batch AS (
         |  SELECT doc_id, tokens FROM all_docs WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id, tokens[2:] AS tokens FROM corpus WHERE doc_id % 20 = 5),
         |cw AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM corpus WHERE len(tokens) >= 3),
         |bw AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM batch WHERE len(tokens) >= 3),
         |csh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM cw),
         |bsh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM bw),
         |csig AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhIdx.mkString(", ")} FROM csh)),
         |bsig AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhIdx.mkString(", ")} FROM bsh)),
         |cbands AS (
         |  SELECT doc_id, 0 AS band_idx, band_0 AS band_val FROM csig
         |  UNION ALL SELECT doc_id, 1 AS band_idx, band_1 AS band_val FROM csig),
         |bbands AS (
         |  SELECT doc_id, 0 AS band_idx, band_0 AS band_val FROM bsig
         |  UNION ALL SELECT doc_id, 1 AS band_idx, band_1 AS band_val FROM bsig),
         |merged AS (
         |  SELECT c.doc_id, c.band_idx, c.band_val FROM cbands c
         |  WHERE NOT EXISTS (SELECT 1 FROM bbands b
         |    WHERE b.doc_id = c.doc_id AND b.band_idx = c.band_idx)
         |  UNION ALL SELECT doc_id, band_idx, band_val FROM bbands),
         |replaced AS (
         |  SELECT c.band_idx, count(*) AS n_replaced
         |  FROM cbands c JOIN bbands b
         |    ON c.doc_id = b.doc_id AND c.band_idx = b.band_idx
         |  WHERE c.band_val <> b.band_val GROUP BY c.band_idx),
         |buckets AS (
         |  SELECT band_idx, band_val, count(*) AS n
         |  FROM merged GROUP BY band_idx, band_val),
         |bstats AS (
         |  SELECT band_idx, sum(n) AS n_entries, count(*) AS n_buckets,
         |    max(n) AS max_bucket
         |  FROM buckets GROUP BY band_idx),
         |dstats AS (
         |  SELECT band_idx, count(DISTINCT doc_id) AS n_docs
         |  FROM merged GROUP BY band_idx)
         |SELECT CAST(s.band_idx AS BIGINT) AS band_idx,
         |  CAST(s.n_entries AS BIGINT) AS n_entries,
         |  CAST(d.n_docs AS BIGINT) AS n_docs,
         |  CAST(s.n_buckets AS BIGINT) AS n_buckets,
         |  CAST(s.max_bucket AS BIGINT) AS max_bucket,
         |  CAST(coalesce(r.n_replaced, 0) AS BIGINT) AS n_replaced,
         |  CAST(2 AS BIGINT) AS n_versions
         |FROM bstats s
         |JOIN dstats d ON s.band_idx = d.band_idx
         |LEFT JOIN replaced r ON r.band_idx = s.band_idx
         |ORDER BY band_idx""".stripMargin
    },
    "dedup_novel_filter" -> {
      // same banding CTEs as dedup_incremental, anti semantics: novel =
      // batch docs colliding with the corpus index on NEITHER band
      val duckMinhNov = MinhashPairParams.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(shset, x -> ($a * x + $b) % $P)) AS minh${i + 1}"
      }
      s"""WITH all_docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |corpus AS (SELECT * FROM all_docs WHERE doc_id % 10 <> 0),
         |batch AS (
         |  SELECT doc_id, tokens FROM all_docs WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, tokens[2:] AS tokens
         |  FROM corpus WHERE doc_id % 20 = 5),
         |cw AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM corpus WHERE len(tokens) >= 3),
         |bw AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM batch WHERE len(tokens) >= 3),
         |csh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM cw),
         |bsh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM bw),
         |csig AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhNov.mkString(", ")} FROM csh)),
         |bsig AS (
         |  SELECT doc_id, (minh1 * 31 + minh2) % $P AS band_0,
         |    (minh3 * 31 + minh4) % $P AS band_1
         |  FROM (SELECT doc_id, ${duckMinhNov.mkString(", ")} FROM bsh)),
         |novel AS (
         |  SELECT doc_id FROM bsig
         |  WHERE band_0 NOT IN (SELECT band_0 FROM csig)
         |    AND band_1 NOT IN (SELECT band_1 FROM csig)
         |  UNION ALL
         |  SELECT doc_id FROM batch WHERE len(tokens) < 3)
         |SELECT doc_id FROM novel ORDER BY doc_id""".stripMargin
    },
    "dedup_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, tokens[2:] AS tokens
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
        |  WHERE doc_id % 20 = 0),
        |corpus AS (SELECT * FROM docs WHERE len(tokens) >= 3),
        |shingles AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tokens) - 2),
        |    i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]))) AS shingle
        |  FROM corpus),
        |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM shingles a JOIN shingles b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(floor(CAST(n_common AS DOUBLE)
        |    / (sa.n_shingles + sb.n_shingles - n_common) * 10000) AS BIGINT) AS jaccard_e4
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_span_coverage" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN text || ' terms of use all rights reserved contact us at example dot org'
        |      ELSE text END AS text
        |  FROM documents),
        |docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS tokens FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, tokens[2:] AS tokens
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM base)
        |  WHERE doc_id % 20 = 0),
        |corpus AS (
        |  SELECT doc_id, tokens, len(tokens) AS n_tokens FROM docs
        |  WHERE len(tokens) >= 5),
        |pos_tbl AS (
        |  SELECT doc_id, n_tokens,
        |    unnest(generate_series(1, n_tokens - 4)) AS pos
        |  FROM corpus),
        |sh AS (
        |  SELECT p.doc_id, p.n_tokens, p.pos,
        |    array_to_string(c.tokens[p.pos:p.pos + 4], ' ') AS shingle
        |  FROM pos_tbl p JOIN corpus c USING (doc_id)),
        |multi AS (
        |  SELECT shingle FROM sh GROUP BY shingle
        |  HAVING count(DISTINCT doc_id) > 1),
        |flagged AS (
        |  SELECT * FROM sh WHERE shingle IN (SELECT shingle FROM multi)),
        |lagged AS (
        |  SELECT doc_id, n_tokens, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM flagged),
        |per_doc AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 5
        |                  ELSE least(5, pos - prev) END) AS BIGINT) AS dup_tokens
        |  FROM lagged GROUP BY doc_id, n_tokens)
        |SELECT doc_id, n_tokens, dup_tokens,
        |  CAST(floor(dup_tokens * 10000.0 / n_tokens) AS BIGINT) AS dup_frac_e4
        |FROM per_doc ORDER BY doc_id""".stripMargin,
    "dedup_span_rewrite" ->
      // same fixture/flag CTEs as dedup_span_coverage (string 5-grams;
      // DuckDB positions are 1-based, Spark's kernel 0-based — the
      // coverage predicate i ∈ [p, p+5) is base-consistent), then the
      // edit: drop covered token indices, reassemble, fingerprint
      s"""WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN text || ' terms of use all rights reserved contact us at example dot org'
        |      ELSE text END AS text
        |  FROM documents),
        |docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS tokens FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, tokens[2:] AS tokens
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM base)
        |  WHERE doc_id % 20 = 0),
        |corpus AS (
        |  SELECT doc_id, tokens, len(tokens) AS n_tokens FROM docs
        |  WHERE len(tokens) >= 5),
        |pos_tbl AS (
        |  SELECT doc_id, n_tokens,
        |    unnest(generate_series(1, n_tokens - 4)) AS pos
        |  FROM corpus),
        |sh AS (
        |  SELECT p.doc_id, p.pos,
        |    array_to_string(c.tokens[p.pos:p.pos + 4], ' ') AS shingle
        |  FROM pos_tbl p JOIN corpus c USING (doc_id)),
        |multi AS (
        |  SELECT shingle FROM sh GROUP BY shingle
        |  HAVING count(DISTINCT doc_id) > 1),
        |starts AS (
        |  SELECT doc_id, list_sort(list(pos)) AS starts
        |  FROM sh WHERE shingle IN (SELECT shingle FROM multi)
        |  GROUP BY doc_id),
        |rewritten AS (
        |  SELECT c.doc_id, c.n_tokens,
        |    list_filter(list_transform(generate_series(1, c.n_tokens),
        |      i -> CASE WHEN len(list_filter(s.starts,
        |             p -> i >= p AND i < p + 5)) > 0
        |           THEN NULL ELSE c.tokens[i] END),
        |      t -> t IS NOT NULL) AS kept
        |  FROM corpus c JOIN starts s USING (doc_id))
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  ${duckFp("array_to_string(kept, ' ')")} AS kept_fp
        |FROM rewritten ORDER BY doc_id""".stripMargin,
    "dedup_connected_components" ->
      s"""WITH RECURSIVE $duckCcChain
         |SELECT id, min(r) AS cluster_id, id = min(r) AS is_representative
         |FROM reach GROUP BY id ORDER BY id""".stripMargin,
  )

  /** The injected-corpus Jaccard-pairs + transitive-closure CTE chain
    * (final CTE: `reach(id, r)`) — shared by the components oracle and
    * the canonical-representative composition
    * ([[GraphMetricsQueries]]). Splices into a `WITH RECURSIVE`. */
  private[queries] def duckCcChain: String =
    """docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, tokens[2:] AS tokens
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
      |  WHERE doc_id % 20 = 0),
      |corpus AS (SELECT * FROM docs WHERE len(tokens) >= 3),
      |shingles AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tokens) - 2),
      |    i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]))) AS shingle
      |  FROM corpus),
      |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM shingles a JOIN shingles b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |kept AS (
      |  SELECT id_a, id_b FROM pairs
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.6),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM kept
      |  UNION SELECT id_b AS a, id_a AS b FROM kept),
      |reach(id, r) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)""".stripMargin
}
