package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared._

/** Embedding / SIMILARITY-SEARCH tier (split from PipelineQueries in
  * r10): brute-force and native-expression cosine top-k, LSH bucketing,
  * IVF assign/probe, product quantization (codes + ADC query + recall
  * audit), int8 quantization, banded-LSH embedding near-dup pairs, and
  * the SemDeDup-style semantic KEEP decision. Every entry is
  * hash-verified against the DuckDB oracles below.
  */
private[graft] object VectorQueries {

  /** Shared top-k budget of the recall audit: the Spark query and its
    * DuckDB replay both interpolate this so they can never desync. */
  private[queries] val RecallK = 20

  /** Brute-force cosine top-k against a broadcast query vector (Q2,
    * `chatbot_api.py:227-242`). Query vector = 0.1·1⃗ so the oracle can
    * reproduce the identical fold: cos = 0.1·Σx / (‖x‖·0.1·√64). */
  private val simCosineTopk: Q = (s, d) =>
    Tables.embeddings(s, d)
      .selectExpr("vec_id",
        s"round(($sumExpr * 0.1) / (sqrt($sumSqExpr) * 0.8), 6) AS cos_sim")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(20)

  /** Cosine top-k through the NATIVE Catalyst expression
    * ([[graft.expressions.CosineSimilarity]], codegen'd fused loop) —
    * same shape as sim_cosine_topk but exercising the registered
    * graft_cosine function end-to-end; the oracle replicates its exact
    * sequential f64 folds. */
  private val simCosineNative: Q = (s, d) =>
    Tables.embeddings(s, d)
      .selectExpr("vec_id",
        "CAST(floor(graft_cosine(embedding, array_repeat(CAST(0.1 AS DOUBLE), 64)) " +
          "* 1000000) AS BIGINT) AS cos_e6")
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(20)

  /** LSH-bucketed ANN partitioner: 8 deterministic integer hyperplanes
    * w(b,i) = ((b*37 + i*13) % 21) - 10; signature = Σ 2^b·[proj_b ≥ 0],
    * computed by the native fused-loop [[graft.expressions.LshBands]]
    * (one band of 8 bits — identical per-bit sums to the per-bit HOF
    * folds the oracle uses). Output = bucket histogram (the ANN
    * candidate-set distribution). At scale the bucket id is the
    * shuffle/partition key and each query probes one bucket instead of
    * the full corpus. */
  private val simLshBuckets: Q = (s, d) =>
    Tables.embeddings(s, d)
      .selectExpr("vec_id", "element_at(graft_lsh_bands(embedding, 1, 8), 1) AS lsh_bucket")
      .groupBy("lsh_bucket").agg(count(lit(1)).as("n_vectors"))
      .orderBy("lsh_bucket")

  /** IVF coarse quantizer (the ANN scale path alongside LSH): 16
    * deterministic centroids c_j[i] = (((j*31+i*17) mod 19) - 9) / 10;
    * every vector is assigned to its nearest centroid (squared L2) by
    * the native fused-loop [[graft.expressions.IvfAssign]] — identical
    * per-centroid sums to the per-centroid HOF folds the oracle keeps —
    * and the assignment IS the IVF partition map: at scale the corpus
    * is written bucketed by `centroid_id` and a query probes its nprobe
    * nearest centroid partitions instead of the full corpus. Output =
    * per-centroid inverted-list sizes + a probe-order checksum. */
  private val simIvfAssign: Q = (s, d) =>
    Tables.embeddings(s, d)
      .selectExpr("vec_id", "graft_ivf_assign(embedding, 16) AS centroid_id")
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_vectors"), sum("vec_id").as("vec_id_sum"))
      .orderBy("centroid_id")

  /** PQ codebook grid, data-independent like the IVF centroids:
    * cb(m,k)[i] = (((m·131 + k·31 + i·17) mod 19) − 9)/10 — evaluated at
    * class-load and inlined as literals into both engines' SQL. */
  private def pqCentroid(m: Int, k: Int, i: Int): Double =
    (((m * 131 + k * 31 + i * 17) % 19) - 9) / 10.0

  /** Shared Spark-side PQ expression builders (build / ADC query /
    * recall-audit entries all use the identical straight-line
    * arithmetic): per-(subspace m, centroid k) squared-L2 distance
    * columns, the per-subspace argmin code columns, and the ADC
    * table-lookup sum. `${c}D`: bare decimal literals are DECIMAL in
    * Spark (and DuckDB) and the engines' decimal promotion differs in
    * the last ulp. */
  private def pqDistExpr(m: Int, k: Int): String =
    (0 until 16).map { i =>
      val c = pqCentroid(m, k, i)
      val e = s"element_at(embedding, ${16 * m + i + 1})"
      s"($e - ${c}D) * ($e - ${c}D)"
    }.mkString("(", " + ", ")")
  private def pqDistCols: Seq[String] =
    (for (m <- 0 until 4; k <- 0 until 4) yield s"${pqDistExpr(m, k)} AS d_${m}_$k").toSeq
  private def pqCodeCols: Seq[String] = (0 until 4).map { m =>
    s"(CASE WHEN d_${m}_0 <= d_${m}_1 AND d_${m}_0 <= d_${m}_2 AND d_${m}_0 <= d_${m}_3 THEN 0 " +
      s"WHEN d_${m}_1 <= d_${m}_2 AND d_${m}_1 <= d_${m}_3 THEN 1 " +
      s"WHEN d_${m}_2 <= d_${m}_3 THEN 2 ELSE 3 END) AS code_$m"
  }
  private def pqAdcExpr: String = (0 until 4).map { m =>
    s"(CASE code_$m WHEN 0 THEN ${AdcTables(m)(0)}D WHEN 1 THEN ${AdcTables(m)(1)}D " +
      s"WHEN 2 THEN ${AdcTables(m)(2)}D ELSE ${AdcTables(m)(3)}D END)"
  }.mkString(" + ")

  /** Product quantization codes — the memory half of the IVF-PQ ANN
    * architecture (`sim_ivf_assign` is the routing half): the 64-dim
    * embedding splits into m=4 subvectors of 16 dims, each assigned to
    * its nearest of k=4 subspace centroids (squared L2, ties to the
    * lowest id), and the four 2-bit codes fuse into one byte — 256 B of
    * floats become 1 B per vector, the compression that lets a 100 TB
    * corpus's candidate lists live in RAM. At query time each subspace
    * needs only a k-entry distance table (ADC): scoring a candidate is
    * m table lookups, never a float dot product. Emits the code plus
    * the quantization error (the argmin distance sum) fixed-pointed;
    * all arithmetic is straight-line left-associated double sums of
    * inlined literals, so the oracle reproduces it bit-for-bit. */
  private val simPqCodes: Q = (s, d) => {
    val dminCols = (0 until 4).map(m =>
      s"least(d_${m}_0, d_${m}_1, d_${m}_2, d_${m}_3) AS dmin_$m")
    Tables.embeddings(s, d)
      .selectExpr("vec_id" +: pqDistCols: _*)
      .selectExpr(("vec_id" +: pqCodeCols) ++ dminCols: _*)
      .selectExpr("vec_id",
        "CAST(code_0 + 4 * code_1 + 16 * code_2 + 64 * code_3 AS INT) AS pq_code",
        "CAST(floor((dmin_0 + dmin_1 + dmin_2 + dmin_3) * 10000) AS BIGINT) AS err_e4")
      .orderBy("vec_id")
  }

  /** ADC distance tables for q = 0.1·1⃗ over the deterministic PQ
    * codebook: dt(m)(k) = ‖q_m − c_{m,k}‖². Data-independent, computed
    * once at class-load and inlined as the SAME double literals into
    * both engines' SQL (Double.toString is shortest-roundtrip, so both
    * parse back the identical double and the fixed-point floor cannot
    * straddle engines). */
  private val AdcTables: IndexedSeq[IndexedSeq[Double]] =
    (0 until 4).map { m =>
      (0 until 4).map { k =>
        (0 until 16).map { i => val df = 0.1 - pqCentroid(m, k, i); df * df }.sum
      }
    }

  /** PQ ADC top-k — the QUERY half of product quantization (sim_pq_codes
    * is the build half): score every vector as Σ_m dt(m)(code_m), i.e.
    * m table lookups per candidate, never a float dot product, and take
    * the k best by the fixed-point ADC key. At 100 TB the codes are
    * PRECOMPUTED and stored (1 B/vector, the 256× memory cut), so the
    * scan this query models reads only the code column; the top-k is a
    * partial per-partition heap + single final merge (same shape the
    * TopKPerKeyExec strategy pins elsewhere). Codes are derived inline
    * here only because the battery is stateless — the derivation is the
    * already-verified sim_pq_codes arithmetic. Ordering ties (ADC takes
    * ≤ 256 distinct values, so the cutoff IS tied) break by vec_id in
    * both engines. */
  private val simPqAdcTopk: Q = (s, d) =>
    Tables.embeddings(s, d)
      .selectExpr("vec_id" +: pqDistCols: _*)
      .selectExpr("vec_id" +: pqCodeCols: _*)
      .selectExpr("vec_id", s"CAST(floor(($pqAdcExpr) * 10000) AS BIGINT) AS adc_e4")
      .orderBy(col("adc_e4"), col("vec_id"))
      .limit(10)

  /** IVF probe set: the `IvfNprobe` centroids nearest (squared L2) to
    * the fixed query vector q = 0.1·1⃗, over the same deterministic
    * centroid grid as `sim_ivf_assign` (c_j[i] = (((j*31+i*17) mod 19)
    * - 9)/10). Pure data-independent arithmetic evaluated once at
    * class-load and inlined as literals into BOTH engines' SQL, so the
    * probe list cannot drift between Spark and the oracle. */
  private val IvfNprobe = 4
  private[graft] def ivfProbeList(nprobe: Int): Seq[Int] = {
    def centroid(j: Int, i: Int): Double = (((j * 31 + i * 17) % 19) - 9) / 10.0
    (0 until 16).map { j =>
      val d = (0 until 64).map { i => val diff = 0.1 - centroid(j, i); diff * diff }.sum
      (j, d)
    }.sortBy { case (j, d) => (d, j) }.take(nprobe).map(_._1)
  }
  private[graft] val IvfProbes: Seq[Int] = ivfProbeList(IvfNprobe)

  /** IVF-probed ANN top-k — the QUERY path completing `sim_ivf_assign`'s
    * partition map (together they are the Spark-side generalization of
    * the reference's ES kNN retrieval, chatbot_api.py:227-242): every
    * vector is assigned to its nearest coarse centroid, the query probes
    * only its `IvfNprobe` nearest centroids' inverted lists, and cosine
    * top-k (native `graft_cosine`) runs on that candidate subset alone.
    *
    * Scale posture: at 100 TB the corpus is WRITTEN bucketed by
    * `centroid_id` (the sim_ivf_assign map), so this query reads
    * nprobe/nlist of the data — the assignment filter here stands in for
    * partition pruning on the bucketed layout; everything downstream of
    * the filter is a scan-local top-k, no shuffle beyond the final
    * limit. */
  private val simIvfTopk: Q = (s, d) => ivfTopkAt(s, d, 16, IvfProbes)

  /** The same probed-read pipeline at ANY width — the deep scale tier
    * runs it at the census-tuned `nlist` ([[graft.operators.IvfTuner]])
    * the way the LSH pipelines run at the census band width. */
  private[graft] def ivfTopkAt(s: SparkSession, d: String,
                               nlist: Int, probes: Seq[Int]): DataFrame =
    Tables.embeddings(s, d)
      .selectExpr("vec_id", "embedding", s"graft_ivf_assign(embedding, $nlist) AS centroid_id")
      .filter(col("centroid_id").isin(probes: _*))
      .selectExpr("vec_id", "centroid_id",
        "CAST(floor(graft_cosine(embedding, array_repeat(CAST(0.1 AS DOUBLE), 64)) " +
          "* 1000000) AS BIGINT) AS cos_e6")
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(20)

  /** IVF width CENSUS — the measured evidence behind
    * [[graft.operators.IvfTuner]]'s doubling loop, pinned as data: at
    * each grid width, the list occupancy (corpus size, hottest list)
    * and the rows the canonical query's nprobe=4 probe lists would
    * read, plus the probed lists' vec_id sum so a single row routed to
    * the wrong list flips the hash. The fixed 16/64/256 grid is what
    * makes the census oracle-replayable (the tuner's data-dependent
    * STOPPING point is spec-tested in IvfTunerSpec instead — same
    * split as LshTuner/dedup_band_census). One aggregate per width
    * over compact (centroid_id) keys — at 100 TB this is the cheap
    * pass you run before committing a corpus-sized
    * `Layout.writeIvfBucketed` rewrite. */
  private val simIvfCensus: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    IvfCensusWidths.map { w =>
      val probes = graft.operators.IvfTuner.probeList(w, IvfNprobe)
      emb.selectExpr("vec_id", s"graft_ivf_assign(embedding, $w) AS centroid_id")
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n"), sum("vec_id").as("vs"))
        .agg(count(lit(1)).as("n_lists_used"),
          coalesce(sum("n"), lit(0L)).as("n_rows"),
          coalesce(max("n"), lit(0L)).as("max_list"),
          coalesce(sum(when(col("centroid_id").isin(probes: _*), col("n"))), lit(0L))
            .as("probed_rows"),
          coalesce(sum(when(col("centroid_id").isin(probes: _*), col("vs"))), lit(0L))
            .as("probed_vec_sum"))
        .withColumn("nlist", lit(w))
    }.reduce(_ unionByName _)
      .select("nlist", "n_lists_used", "n_rows", "max_list", "probed_rows", "probed_vec_sum")
      .orderBy("nlist")
  }
  private val IvfCensusWidths = Seq(16, 64, 256)

  /** √N-TUNED probed top-k — the arithmetic half of the IVF width
    * lever, end-to-end through the correctness gate: `nlist` is the
    * smallest power of two with nlist² ≥ N
    * ([[graft.operators.IvfTuner.sqrtNlist]], the integer-exact form of
    * the FAISS nlist ≈ √N guideline), the probe list is re-derived at
    * that width, and the probed cosine top-k runs exactly like
    * `sim_ivf_topk` — plus the chosen width riding the output hash. The
    * rule is a pure function of count(*), so the DuckDB oracle replays
    * the CHOICE itself (min pow2 with v·v ≥ cnt), not just the probe:
    * a drifted tuner would flip the hash. The count here is the one
    * driver-side scalar read (the same bounded census read LshTuner
    * does); everything downstream is the ordinary probed scan. */
  private val simIvfTunedTopk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val nlist = graft.operators.IvfTuner.sqrtNlist(emb.count())
    val probes = graft.operators.IvfTuner.probeList(nlist, IvfNprobe)
    ivfTopkAt(s, d, nlist, probes).withColumn("nlist", lit(nlist))
  }

  /** Composed IVF-PQ top-k — the FULL production ANN query shape
    * (FAISS's IndexIVFPQ, Jégou et al. "Product quantization for
    * nearest neighbor search"): the coarse quantizer routes the probe
    * to nprobe=4 of 16 inverted lists (`sim_ivf_assign`'s partition
    * map — at 100 TB this filter IS partition pruning on the bucketed
    * layout, `Layout.writeIvfBucketed`), and ONLY those lists' members
    * are scored, by ADC table lookups over their 1-byte PQ codes
    * (`sim_pq_codes`' compression) — never a float dot product, never
    * the unprobed 12/16 of the corpus. The two halves are each
    * oracle-pinned on their own; this entry pins their COMPOSITION,
    * and `sim_recall_at_k`'s ivfpq_nprobe4 row prices its combined
    * recall against brute-force truth. */
  private val simIvfPqTopk: Q = (s, d) => ivfPqTopkAt(s, d, 16, IvfProbes)

  /** The probed-ADC pipeline at ANY width (deep-tier twin of
    * [[ivfTopkAt]]): the PQ codebook is subspace-local and independent
    * of the coarse width, so only the routing filter changes. */
  private[graft] def ivfPqTopkAt(s: SparkSession, d: String,
                                 nlist: Int, probes: Seq[Int]): DataFrame =
    Tables.embeddings(s, d)
      .selectExpr("vec_id", "embedding", s"graft_ivf_assign(embedding, $nlist) AS centroid_id")
      .filter(col("centroid_id").isin(probes: _*))
      .selectExpr(Seq("vec_id", "centroid_id") ++ pqDistCols: _*)
      .selectExpr(Seq("vec_id", "centroid_id") ++ pqCodeCols: _*)
      .selectExpr("vec_id", "centroid_id",
        s"CAST(floor(($pqAdcExpr) * 10000) AS BIGINT) AS adc_e4")
      .orderBy(col("adc_e4"), col("vec_id"))
      .limit(10)

  /** The probed-ADC read over a PRE-BUCKETED layout
    * ([[graft.operators.Layout.writeIvfBucketed]]): the centroid filter
    * resolves to partition pruning, so the scan — and the PQ
    * code/ADC arithmetic — touches only the probed lists' files. This
    * is the shape whose cost the IvfTuner census holds flat as the
    * corpus grows (the in-query-assignment variants above pay an
    * O(N·nlist) assignment scan that belongs at WRITE time). */
  private[graft] def ivfProbedPqTopk(spark: SparkSession, path: String,
                                     probes: Seq[Int], k: Int): DataFrame =
    graft.operators.TableMerge.read(spark, path)
      .filter(col("centroid_id").isin(probes: _*))
      .selectExpr(Seq("vec_id", "centroid_id") ++ pqDistCols: _*)
      .selectExpr(Seq("vec_id", "centroid_id") ++ pqCodeCols: _*)
      .selectExpr("vec_id", "centroid_id",
        s"CAST(floor(($pqAdcExpr) * 10000) AS BIGINT) AS adc_e4")
      .orderBy(col("adc_e4"), col("vec_id"))
      .limit(k)

  /** IVF-PQ + exact-refine top-k — the two-stage production read path
    * (FAISS `IndexRefineFlat` over `IndexIVFPQ`; Jégou et al. §5.3
    * re-ranking): stage 1 shortlists 50 candidates by ADC table lookups
    * inside the nprobe=4 probed lists — compressed 1-byte codes only, the
    * scan never touches a float vector; stage 2 fetches original
    * embeddings for ONLY those 50 (a broadcast semi-join — at 100 TB a
    * point-lookup against the `writeIvfBucketed` layout) and exact
    * cosine re-ranks them to the final top-10. The refine stage pays
    * full-vector reads for 50 rows to recover the ordering precision the
    * 2-bit codes destroyed; what that buys in recall is hash-pinned by
    * `sim_recall_at_k`'s ivfpq_rerank row vs its ivfpq_nprobe4 row. */
  private val simIvfPqRerank: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val shortlist = emb
      .selectExpr("vec_id", "embedding", "graft_ivf_assign(embedding, 16) AS centroid_id")
      .filter(col("centroid_id").isin(IvfProbes: _*))
      .selectExpr("vec_id" +: pqDistCols: _*)
      .selectExpr("vec_id" +: pqCodeCols: _*)
      .selectExpr("vec_id", s"CAST(floor(($pqAdcExpr) * 10000) AS BIGINT) AS adc_e4")
      .orderBy(col("adc_e4"), col("vec_id"))
      .limit(50)
      .select("vec_id")
    emb.join(broadcast(shortlist), Seq("vec_id"))
      .selectExpr("vec_id",
        "CAST(floor(graft_cosine(embedding, array_repeat(CAST(0.1 AS DOUBLE), 64)) " +
          "* 1000000) AS BIGINT) AS cos_e6")
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(10)
  }

  /** ANN recall@k AUDIT (VERDICT r9 #4): the first question a real ANN
    * user asks before trusting nprobe/PQ settings at 100 TB is "what
    * recall does this buy me?" — so measure it IN the engine, against
    * the brute-force ground truth that also ships (`sim_cosine_topk`).
    * Ground truth = native-cosine top-20 over the full corpus
    * (cos_e6 desc, vec_id tiebreak — the same fixed-point key every ANN
    * entry orders by, so ties cannot straddle methods or engines); each
    * method's top-20 then left-joins the truth set and counts overlap:
    * one row per method with n_returned and n_hits (recall@20 = n_hits /
    * 20). Methods: IVF with nprobe 1 and 4 (of nlist=16 — the
    * probe-budget curve), and PQ ADC (4×2-bit codes, the memory-for-
    * recall trade). Pure relational arithmetic end-to-end, so the DuckDB
    * oracle hash-pins the measured recall integers per scale factor —
    * a quantization or probe-order regression changes the pinned number,
    * not just a vibe.
    *
    * Scale posture: the brute-force ground truth is the audit's cost by
    * design — at 100 TB this query runs over a SAMPLED query set (the
    * per-method branches are the cheap side); each branch is a
    * scan-local top-k (partial per-partition heap + single merge), and
    * the final overlap join moves ≤ 3k rows. */
  private val simRecallAtK: Q = (s, d) => {
    val k = RecallK
    // ONE fused scan (r20, guide §1.2 "remove passes"): every method
    // branch below decides from per-row (cos_e6, centroid_id, adc_e4)
    // only — the 8-branch union used to re-scan the embeddings parquet
    // 7× (7 Scan nodes in plans/r20/_before/sim_recall_at_k.txt), each
    // pass re-evaluating the cosine / IVF-assign / 256-term PQ-distance
    // expression trees. The identical expressions now evaluate once per
    // row in a single whole-stage-codegen pass; branches are top-ks
    // over the checkpointed 4-column frame (vec_id, cos_e6,
    // centroid_id, adc_e4 — ~32 B/row, never the 64-float embedding).
    // Values are bit-identical (same expression text, same per-row
    // evaluation), so every method's top-k — and the oracle hash — is
    // unchanged; 8.5 s → see OPTIMIZATION_r20.md.
    val cosE6 =
      "CAST(floor(graft_cosine(embedding, array_repeat(CAST(0.1 AS DOUBLE), 64)) " +
        "* 1000000) AS BIGINT) AS cos_e6"
    val emb = Tables.embeddings(s, d)
    val base = emb
      .selectExpr(Seq("vec_id", cosE6,
        "graft_ivf_assign(embedding, 16) AS centroid_id") ++ pqDistCols: _*)
      .selectExpr(Seq("vec_id", "cos_e6", "centroid_id") ++ pqCodeCols: _*)
      .selectExpr("vec_id", "cos_e6", "centroid_id",
        s"CAST(floor(($pqAdcExpr) * 10000) AS BIGINT) AS adc_e4")
      .localCheckpoint()
    def cosTopkOf(df: DataFrame): DataFrame = df
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(k).select("vec_id")
    val gt = cosTopkOf(base)
    def ivf(nprobe: Int): DataFrame =
      cosTopkOf(base.filter(col("centroid_id").isin(ivfProbeList(nprobe): _*)))
    val pq = base
      .orderBy(col("adc_e4"), col("vec_id"))
      .limit(k).select("vec_id")
    // the composed production query: probe 4 lists, ADC-score only them
    val probed4 = base.filter(col("centroid_id").isin(ivfProbeList(4): _*))
    val ivfpq = probed4
      .orderBy(col("adc_e4"), col("vec_id"))
      .limit(k).select("vec_id")
    // two-stage refine: the same probed-list ADC ordering keeps 50
    // candidates instead of 20, and exact cosine re-ranks that
    // shortlist — the recall delta vs ivfpq_nprobe4 is what the
    // full-vector refine reads buy back from the 2-bit codes
    val shortlist50 = probed4
      .orderBy(col("adc_e4"), col("vec_id"))
      .limit(50)
    val rerank = cosTopkOf(shortlist50)
    // graph navigation at equal output budget: top-20 of the bounded
    // beam walk's visited set (GraphAnnQueries) — prices HNSW-style
    // recall against the IVF/PQ family in the same audit; the edge and
    // score tables build ONCE and feed both the flat-beam row and the
    // hierarchical-descent row, so the two graph rows differ only in
    // how they enter the graph
    val hnsw = GraphAnnQueries.walkCkpt(s, d, 8, GraphAnnQueries.Beam)
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(k).select("vec_id")
    // two-level descent at the same output budget: what the 1/256-scan
    // hierarchy gives up (or keeps) vs the N/16 entry scan (memoized
    // walk pair — shared with sim_hnsw_hier instead of re-running both
    // layers' per-hop checkpoint jobs per invocation, r20)
    val hier = GraphAnnQueries.hierWalksCkpt(s, d, 8)._2
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(k).select("vec_id")
    // trained-OPQ ADC at the same output budget: what the learned
    // permutation + trained codebooks buy over the fixed-grid pq_adc row
    val opq = PqQueries.opqAdcTopk(s, d, k)
    val methods = ivf(1).withColumn("method", lit("ivf_nprobe1"))
      .unionByName(ivf(4).withColumn("method", lit("ivf_nprobe4")))
      .unionByName(pq.withColumn("method", lit("pq_adc")))
      .unionByName(ivfpq.withColumn("method", lit("ivfpq_nprobe4")))
      .unionByName(rerank.withColumn("method", lit("ivfpq_rerank")))
      .unionByName(hnsw.withColumn("method", lit("hnsw_beam")))
      .unionByName(hier.withColumn("method", lit("hnsw_hier")))
      .unionByName(opq.withColumn("method", lit("opq_adc")))
    methods
      .join(gt.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
      .groupBy("method")
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("k", lit(k.toLong))
      .orderBy("method")
  }


  /** Symmetric int8 embedding quantization — the ANN memory-scale path:
    * per-vector scale = 127/max|x|, q_i = floor(x_i·127/mx + 0.5), a 4×
    * shrink that turns a 100 TB float32 corpus into 25 TB of int8 +
    * one float per vector (the compressed form IVF/LSH probing scans;
    * dequantize only the final candidates). Output pins every code:
    * integer code-sum, saturation count, and the reconstruction error
    * fixed-pointed PER ELEMENT (floor(e²·1e8+0.5) is a deterministic
    * double op; the LONG sum is order-independent — raw float error
    * sums are not). Every arithmetic step is written in the exact same
    * order in the DuckDB oracle (x·127/mx, not x·(127/mx) — fp is not
    * associative). */
  private val simQuantizeI8: Q = (s, d) => {
    val q = "CAST(floor(CAST(x AS DOUBLE) * 127.0D / mx + 0.5D) AS BIGINT)"
    val e = s"(CAST(x AS DOUBLE) - $q * mx / 127.0D)"
    Tables.embeddings(s, d)
      .selectExpr("vec_id",
        "aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))) AS mx",
        "embedding")
      .filter(col("mx") > 0)
      .selectExpr("vec_id",
        s"aggregate(embedding, CAST(0 AS BIGINT), (a, x) -> a + $q) AS sum_q",
        s"aggregate(embedding, CAST(0 AS BIGINT), (a, x) -> a + (CASE WHEN abs($q) = 127 THEN 1 ELSE 0 END)) AS n_sat",
        s"aggregate(embedding, CAST(0 AS BIGINT), (a, x) -> a + CAST(floor($e * $e * 100000000.0D + 0.5D) AS BIGINT)) AS err_e8")
      .orderBy("vec_id")
  }

  /** EMBEDDING NORM CENSUS (r13) — the vector-quality gate a pipeline
    * runs BEFORE indexing or cosine math trusts the embeddings:
    * degenerate norms (near-zero vectors from empty inputs, inflated
    * norms from a mis-scaled encoder batch) poison cosine similarity
    * silently. Per source: count, L2-norm mass/extremes in e6 fixed
    * point, and outlier counts against the GLOBAL mean norm (low =
    * below 80%, high = above 120% — the flag comparison is exact
    * integer cross-multiplication, no division). One scan + a 1-row
    * broadcast + one per-source aggregate; at 100 TB the norm fold is
    * map-side codegen and the only shuffle is the final groupBy. */
  private val simNormCensus: Q = (s, d) => {
    val norms = Tables.embeddings(s, d)
      .join(Tables.documents(s, d).selectExpr("doc_id AS vec_id", "source"), Seq("vec_id"))
      .selectExpr("source",
        s"CAST(floor(sqrt($sumSqExpr) * 1000000) AS BIGINT) AS norm_e6")
    val glob = norms.agg(expr("sum(norm_e6) DIV count(1)").as("mean_e6"))
    norms.crossJoin(broadcast(glob))
      .groupBy("source")
      .agg(count(lit(1)).as("n_vecs"),
        sum("norm_e6").as("norm_sum_e6"),
        min("norm_e6").as("norm_min_e6"),
        max("norm_e6").as("norm_max_e6"),
        sum(when(col("norm_e6") * 100 < col("mean_e6") * 80, 1L).otherwise(0L)).as("n_low"),
        sum(when(col("norm_e6") * 100 > col("mean_e6") * 120, 1L).otherwise(0L)).as("n_high"))
      .orderBy("source")
  }

  private[queries] def duckLshBits(emb: String) = (0 until 8).map { b =>
    s"(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(0, 63), i -> CAST($emb[i + 1] AS DOUBLE) * " +
      s"CAST((($b * 37 + i * 13) % 21) - 10 AS DOUBLE))), (a, x) -> a + x) >= 0 " +
      s"THEN ${1 << b} ELSE 0 END)"
  }


  val queries: Seq[(String, Q)] = Seq(
    "sim_cosine_topk" -> simCosineTopk,
    "sim_cosine_native" -> simCosineNative,
    "sim_lsh_buckets" -> simLshBuckets,
    "sim_ivf_assign" -> simIvfAssign,
    "sim_ivf_topk" -> simIvfTopk,
    "sim_ivf_census" -> simIvfCensus,
    "sim_ivf_tuned_topk" -> simIvfTunedTopk,
    "sim_ivfpq_topk" -> simIvfPqTopk,
    "sim_ivfpq_rerank" -> simIvfPqRerank,
    "sim_recall_at_k" -> simRecallAtK,
    "sim_quantize_i8" -> simQuantizeI8,
    "sim_norm_census" -> simNormCensus,
    "sim_pq_codes" -> simPqCodes,
    "sim_pq_adc_topk" -> simPqAdcTopk,
  )

  val oracles: Map[String, String] = Map(
    "sim_cosine_topk" ->
      s"""SELECT vec_id, round(($duckSum * 0.1) / (sqrt($duckSumSq) * 0.8), 6) AS cos_sim
         |FROM embeddings ORDER BY cos_sim DESC, vec_id ASC LIMIT 20""".stripMargin,
    "sim_cosine_native" ->
      // replicates the native expression's fused loop: elementwise x*0.1
      // dot fold, |x|^2 fold, and the sequential 64x(0.01) query-norm fold
      s"""WITH folds AS (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x) AS dot,
         |    $duckSumSq AS na,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
         |      x -> CAST(0.1 AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x) AS nb
         |  FROM embeddings)
         |SELECT vec_id,
         |  CAST(floor(dot / (sqrt(na) * sqrt(nb)) * 1000000) AS BIGINT) AS cos_e6
         |FROM folds ORDER BY cos_e6 DESC, vec_id ASC LIMIT 20""".stripMargin,
    "sim_lsh_buckets" ->
      s"""SELECT ${duckLshBits("embedding").mkString(" + ")} AS lsh_bucket,
         |  CAST(count(*) AS BIGINT) AS n_vectors
         |FROM embeddings GROUP BY lsh_bucket ORDER BY lsh_bucket""".stripMargin,
    "sim_ivf_assign" ->
      """WITH costs AS (
        |  SELECT vec_id, list_transform(generate_series(0, 15),
        |    j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(0, 63),
        |        i -> (CAST(embedding[i + 1] AS DOUBLE)
        |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0)
        |          * (CAST(embedding[i + 1] AS DOUBLE)
        |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0))),
        |      (a, x) -> a + x)) AS costs
        |  FROM embeddings),
        |assigned AS (
        |  SELECT vec_id,
        |    CAST(list_position(costs, list_min(costs)) - 1 AS INT) AS centroid_id
        |  FROM costs)
        |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(vec_id) AS BIGINT) AS vec_id_sum
        |FROM assigned GROUP BY centroid_id ORDER BY centroid_id""".stripMargin,
    "sim_ivf_census" ->
      // one block per grid width: sim_ivf_assign's argmin CTEs at that
      // width, aggregated to occupancy + probed volume (probe lists are
      // data-independent centroid arithmetic, inlined as literals)
      IvfCensusWidths.map { w =>
        val probes = graft.operators.IvfTuner.probeList(w, IvfNprobe).mkString(", ")
        s"""SELECT CAST($w AS INT) AS nlist,
           |  CAST(count(*) AS BIGINT) AS n_lists_used,
           |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
           |  CAST(coalesce(max(n), 0) AS BIGINT) AS max_list,
           |  CAST(coalesce(sum(CASE WHEN centroid_id IN ($probes) THEN n END), 0)
           |    AS BIGINT) AS probed_rows,
           |  CAST(coalesce(sum(CASE WHEN centroid_id IN ($probes) THEN vs END), 0)
           |    AS BIGINT) AS probed_vec_sum
           |FROM (
           |  SELECT centroid_id, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(vec_id) AS BIGINT) AS vs
           |  FROM (
           |    SELECT vec_id,
           |      CAST(list_position(costs, list_min(costs)) - 1 AS INT) AS centroid_id
           |    FROM (
           |      SELECT vec_id, list_transform(generate_series(0, ${w - 1}),
           |        j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |          list_transform(generate_series(0, 63),
           |            i -> (CAST(embedding[i + 1] AS DOUBLE)
           |              - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0)
           |              * (CAST(embedding[i + 1] AS DOUBLE)
           |              - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0))),
           |          (a, x) -> a + x)) AS costs
           |      FROM embeddings))
           |  GROUP BY centroid_id)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY nlist"),
    "sim_ivf_tuned_topk" ->
      // the WIDTH CHOICE replays in SQL: nlist = min pow2 v in
      // [16, 65536] with v*v >= count(*) (integer compares only — no
      // libm sqrt/log, so the engines cannot straddle a rounding edge);
      // the probe list re-derives by ordering the width's centroid grid
      // by distance to q (same sequential fold the Scala side sums);
      // assignment + cosine then mirror sim_ivf_topk at that width
      s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         |p AS (
         |  SELECT CAST(min(v) AS INT) AS nlist
         |  FROM (SELECT CAST(pow(2, g) AS BIGINT) AS v
         |        FROM generate_series(4, 16) t(g)), n
         |  WHERE v * v >= cnt OR v = 65536),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT j.j AS cid,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(generate_series(0, 63),
         |          i -> (CAST(0.1 AS DOUBLE)
         |            - CAST(((j.j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0)
         |            * (CAST(0.1 AS DOUBLE)
         |            - CAST(((j.j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0))),
         |        (a, x) -> a + x) AS dq
         |    FROM p, UNNEST(generate_series(0, CAST(p.nlist AS BIGINT) - 1)) j(j))
         |  ORDER BY dq, cid LIMIT $IvfNprobe),
         |costs AS (
         |  SELECT vec_id, embedding, list_transform(generate_series(0, CAST(p.nlist AS BIGINT) - 1),
         |    j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(0, 63),
         |        i -> (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0)
         |          * (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0))),
         |      (a, x) -> a + x)) AS costs
         |  FROM embeddings, p),
         |assigned AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_position(costs, list_min(costs)) - 1 AS INT) AS centroid_id
         |  FROM costs),
         |probed AS (
         |  SELECT vec_id, centroid_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x) AS dot,
         |    ${duckSumSqOf("embedding")} AS na,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
         |      x -> CAST(0.1 AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x) AS nb
         |  FROM assigned WHERE centroid_id IN (SELECT cid FROM probes))
         |SELECT vec_id, centroid_id,
         |  CAST(floor(dot / (sqrt(na) * sqrt(nb)) * 1000000) AS BIGINT) AS cos_e6,
         |  p.nlist
         |FROM probed, p ORDER BY cos_e6 DESC, vec_id ASC LIMIT 20""".stripMargin,
    "sim_ivf_topk" ->
      // assignment expr mirrors sim_ivf_assign; cosine folds mirror
      // graft_cosine (three independent sequential f64 accumulators)
      s"""WITH costs AS (
         |  SELECT vec_id, embedding, list_transform(generate_series(0, 15),
         |    j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(0, 63),
         |        i -> (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0)
         |          * (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0))),
         |      (a, x) -> a + x)) AS costs
         |  FROM embeddings),
         |assigned AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_position(costs, list_min(costs)) - 1 AS INT) AS centroid_id
         |  FROM costs),
         |probed AS (
         |  SELECT vec_id, centroid_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x) AS dot,
         |    ${duckSumSqOf("embedding")} AS na,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
         |      x -> CAST(0.1 AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x) AS nb
         |  FROM assigned WHERE centroid_id IN (${IvfProbes.mkString(", ")}))
         |SELECT vec_id, centroid_id,
         |  CAST(floor(dot / (sqrt(na) * sqrt(nb)) * 1000000) AS BIGINT) AS cos_e6
         |FROM probed ORDER BY cos_e6 DESC, vec_id ASC LIMIT 20""".stripMargin,
    "sim_ivfpq_topk" -> {
      // the composed pipeline: sim_ivf_topk's assignment CTEs route the
      // probe, sim_pq_adc_topk's dist/code/ADC fragments score ONLY the
      // probed lists — both blocks already pinned individually
      def distSql(m: Int, k: Int): String =
        (0 until 16).map { i =>
          val c = pqCentroid(m, k, i)
          val e = s"embedding[${16 * m + i + 1}]"
          s"($e - CAST($c AS DOUBLE)) * ($e - CAST($c AS DOUBLE))"
        }.mkString("(", " + ", ")")
      val dCols = (for (m <- 0 until 4; k <- 0 until 4)
        yield s"${distSql(m, k)} AS d_${m}_$k").mkString(",\n    ")
      val codeCols = (0 until 4).map { m =>
        s"(CASE WHEN d_${m}_0 <= d_${m}_1 AND d_${m}_0 <= d_${m}_2 AND d_${m}_0 <= d_${m}_3 THEN 0 " +
          s"WHEN d_${m}_1 <= d_${m}_2 AND d_${m}_1 <= d_${m}_3 THEN 1 " +
          s"WHEN d_${m}_2 <= d_${m}_3 THEN 2 ELSE 3 END) AS code_$m"
      }.mkString(",\n    ")
      val adcSql = (0 until 4).map { m =>
        s"(CASE code_$m WHEN 0 THEN CAST(${AdcTables(m)(0)} AS DOUBLE) " +
          s"WHEN 1 THEN CAST(${AdcTables(m)(1)} AS DOUBLE) " +
          s"WHEN 2 THEN CAST(${AdcTables(m)(2)} AS DOUBLE) " +
          s"ELSE CAST(${AdcTables(m)(3)} AS DOUBLE) END)"
      }.mkString(" + ")
      s"""WITH costs AS (
         |  SELECT vec_id, embedding, list_transform(generate_series(0, 15),
         |    j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(0, 63),
         |        i -> (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0)
         |          * (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0))),
         |      (a, x) -> a + x)) AS costs
         |  FROM embeddings),
         |assigned AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_position(costs, list_min(costs)) - 1 AS INT) AS centroid_id
         |  FROM costs),
         |probed AS (
         |  SELECT vec_id, embedding, centroid_id FROM assigned
         |  WHERE centroid_id IN (${IvfProbes.mkString(", ")})),
         |dists AS (
         |  SELECT vec_id, centroid_id,
         |    $dCols
         |  FROM probed),
         |codes AS (
         |  SELECT vec_id, centroid_id,
         |    $codeCols
         |  FROM dists)
         |SELECT vec_id, centroid_id,
         |  CAST(floor(($adcSql) * 10000) AS BIGINT) AS adc_e4
         |FROM codes ORDER BY adc_e4, vec_id LIMIT 10""".stripMargin
    },
    "sim_ivfpq_rerank" -> {
      // stage 1 mirrors sim_ivfpq_topk's probed-ADC pipeline (LIMIT 50);
      // stage 2 re-joins the shortlist to embeddings and re-ranks with
      // the sim_ivf_topk cosine folds — the refine read path
      def distSql(m: Int, k: Int): String =
        (0 until 16).map { i =>
          val c = pqCentroid(m, k, i)
          val e = s"embedding[${16 * m + i + 1}]"
          s"($e - CAST($c AS DOUBLE)) * ($e - CAST($c AS DOUBLE))"
        }.mkString("(", " + ", ")")
      val dCols = (for (m <- 0 until 4; k <- 0 until 4)
        yield s"${distSql(m, k)} AS d_${m}_$k").mkString(",\n    ")
      val codeCols = (0 until 4).map { m =>
        s"(CASE WHEN d_${m}_0 <= d_${m}_1 AND d_${m}_0 <= d_${m}_2 AND d_${m}_0 <= d_${m}_3 THEN 0 " +
          s"WHEN d_${m}_1 <= d_${m}_2 AND d_${m}_1 <= d_${m}_3 THEN 1 " +
          s"WHEN d_${m}_2 <= d_${m}_3 THEN 2 ELSE 3 END) AS code_$m"
      }.mkString(",\n    ")
      val adcSql = (0 until 4).map { m =>
        s"(CASE code_$m WHEN 0 THEN CAST(${AdcTables(m)(0)} AS DOUBLE) " +
          s"WHEN 1 THEN CAST(${AdcTables(m)(1)} AS DOUBLE) " +
          s"WHEN 2 THEN CAST(${AdcTables(m)(2)} AS DOUBLE) " +
          s"ELSE CAST(${AdcTables(m)(3)} AS DOUBLE) END)"
      }.mkString(" + ")
      s"""WITH costs AS (
         |  SELECT vec_id, embedding, list_transform(generate_series(0, 15),
         |    j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(0, 63),
         |        i -> (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0)
         |          * (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0))),
         |      (a, x) -> a + x)) AS costs
         |  FROM embeddings),
         |assigned AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_position(costs, list_min(costs)) - 1 AS INT) AS centroid_id
         |  FROM costs),
         |probed AS (
         |  SELECT vec_id, embedding FROM assigned
         |  WHERE centroid_id IN (${IvfProbes.mkString(", ")})),
         |dists AS (
         |  SELECT vec_id,
         |    $dCols
         |  FROM probed),
         |codes AS (
         |  SELECT vec_id,
         |    $codeCols
         |  FROM dists),
         |shortlist AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, CAST(floor(($adcSql) * 10000) AS BIGINT) AS adc_e4 FROM codes)
         |  ORDER BY adc_e4, vec_id LIMIT 50),
         |refined AS (
         |  SELECT e.vec_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(e.embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x) AS dot,
         |    ${duckSumSqOf("e.embedding")} AS na,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(e.embedding,
         |      x -> CAST(0.1 AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x) AS nb
         |  FROM embeddings e JOIN shortlist s ON e.vec_id = s.vec_id)
         |SELECT vec_id,
         |  CAST(floor(dot / (sqrt(na) * sqrt(nb)) * 1000000) AS BIGINT) AS cos_e6
         |FROM refined ORDER BY cos_e6 DESC, vec_id ASC LIMIT 10""".stripMargin
    },
    "sim_recall_at_k" -> {
      // assignment + cosine folds mirror sim_ivf_topk; PQ dist/code/ADC
      // fragments mirror sim_pq_adc_topk — the audit composes the three
      // already-pinned arithmetic blocks and counts top-20 overlap
      def distSql(m: Int, k: Int): String =
        (0 until 16).map { i =>
          val c = pqCentroid(m, k, i)
          val e = s"embedding[${16 * m + i + 1}]"
          s"($e - CAST($c AS DOUBLE)) * ($e - CAST($c AS DOUBLE))"
        }.mkString("(", " + ", ")")
      val dCols = (for (m <- 0 until 4; k <- 0 until 4)
        yield s"${distSql(m, k)} AS d_${m}_$k").mkString(",\n    ")
      val codeCols = (0 until 4).map { m =>
        s"(CASE WHEN d_${m}_0 <= d_${m}_1 AND d_${m}_0 <= d_${m}_2 AND d_${m}_0 <= d_${m}_3 THEN 0 " +
          s"WHEN d_${m}_1 <= d_${m}_2 AND d_${m}_1 <= d_${m}_3 THEN 1 " +
          s"WHEN d_${m}_2 <= d_${m}_3 THEN 2 ELSE 3 END) AS code_$m"
      }.mkString(",\n    ")
      val adcSql = (0 until 4).map { m =>
        s"(CASE code_$m WHEN 0 THEN CAST(${AdcTables(m)(0)} AS DOUBLE) " +
          s"WHEN 1 THEN CAST(${AdcTables(m)(1)} AS DOUBLE) " +
          s"WHEN 2 THEN CAST(${AdcTables(m)(2)} AS DOUBLE) " +
          s"ELSE CAST(${AdcTables(m)(3)} AS DOUBLE) END)"
      }.mkString(" + ")
      s"""WITH costs AS (
         |  SELECT vec_id, embedding, list_transform(generate_series(0, 15),
         |    j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(0, 63),
         |        i -> (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0)
         |          * (CAST(embedding[i + 1] AS DOUBLE)
         |          - CAST(((j * 31 + i * 17) % 19) - 9 AS DOUBLE) / 10.0))),
         |      (a, x) -> a + x)) AS costs
         |  FROM embeddings),
         |assigned AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_position(costs, list_min(costs)) - 1 AS INT) AS centroid_id
         |  FROM costs),
         |cos AS (
         |  SELECT vec_id, centroid_id,
         |    CAST(floor(
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
         |        x -> CAST(x AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x)
         |      / (sqrt(${duckSumSqOf("embedding")})
         |         * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(embedding,
         |               x -> CAST(0.1 AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x)))
         |      * 1000000) AS BIGINT) AS cos_e6
         |  FROM assigned),
         |gt AS (SELECT vec_id FROM cos ORDER BY cos_e6 DESC, vec_id ASC LIMIT $RecallK),
         |ivf1 AS (
         |  SELECT vec_id FROM cos WHERE centroid_id IN (${ivfProbeList(1).mkString(", ")})
         |  ORDER BY cos_e6 DESC, vec_id ASC LIMIT $RecallK),
         |ivf4 AS (
         |  SELECT vec_id FROM cos WHERE centroid_id IN (${ivfProbeList(4).mkString(", ")})
         |  ORDER BY cos_e6 DESC, vec_id ASC LIMIT $RecallK),
         |dists AS (
         |  SELECT vec_id,
         |    $dCols
         |  FROM embeddings),
         |codes AS (
         |  SELECT vec_id,
         |    $codeCols
         |  FROM dists),
         |pq AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, CAST(floor(($adcSql) * 10000) AS BIGINT) AS adc_e4 FROM codes)
         |  ORDER BY adc_e4, vec_id LIMIT $RecallK),
         |ivfpq AS (
         |  SELECT x.vec_id FROM (
         |    SELECT vec_id, CAST(floor(($adcSql) * 10000) AS BIGINT) AS adc_e4
         |    FROM codes) x
         |  JOIN assigned a ON a.vec_id = x.vec_id
         |  WHERE a.centroid_id IN (${ivfProbeList(4).mkString(", ")})
         |  ORDER BY x.adc_e4, x.vec_id LIMIT $RecallK),
         |short50 AS (
         |  SELECT x.vec_id FROM (
         |    SELECT vec_id, CAST(floor(($adcSql) * 10000) AS BIGINT) AS adc_e4
         |    FROM codes) x
         |  JOIN assigned a ON a.vec_id = x.vec_id
         |  WHERE a.centroid_id IN (${ivfProbeList(4).mkString(", ")})
         |  ORDER BY x.adc_e4, x.vec_id LIMIT 50),
         |rerank AS (
         |  SELECT c.vec_id FROM cos c JOIN short50 s ON c.vec_id = s.vec_id
         |  ORDER BY c.cos_e6 DESC, c.vec_id ASC LIMIT $RecallK),
         |${GraphAnnQueries.duckVisitedCtes("h")},
         |hnsw AS (
         |  SELECT vec_id FROM hv${GraphAnnQueries.Hops}
         |  ORDER BY cos_e6 DESC, vec_id ASC LIMIT $RecallK),
         |${GraphAnnQueries.duckHierChain},
         |hier AS (
         |  SELECT vec_id FROM w0v${GraphAnnQueries.Hops}
         |  ORDER BY cos_e6 DESC, vec_id ASC LIMIT $RecallK),
         |${PqQueries.duckOpqTopkCtes(RecallK)},
         |methods AS (
         |  SELECT 'ivf_nprobe1' AS method, vec_id FROM ivf1
         |  UNION ALL SELECT 'ivf_nprobe4' AS method, vec_id FROM ivf4
         |  UNION ALL SELECT 'pq_adc' AS method, vec_id FROM pq
         |  UNION ALL SELECT 'ivfpq_nprobe4' AS method, vec_id FROM ivfpq
         |  UNION ALL SELECT 'ivfpq_rerank' AS method, vec_id FROM rerank
         |  UNION ALL SELECT 'hnsw_beam' AS method, vec_id FROM hnsw
         |  UNION ALL SELECT 'hnsw_hier' AS method, vec_id FROM hier
         |  UNION ALL SELECT 'opq_adc' AS method, vec_id FROM opqtop)
         |SELECT m.method, CAST(count(*) AS BIGINT) AS n_returned,
         |  CAST(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST($RecallK AS BIGINT) AS k
         |FROM methods m LEFT JOIN gt g ON m.vec_id = g.vec_id
         |GROUP BY m.method ORDER BY m.method""".stripMargin
    },
    "sim_norm_census" ->
      s"""WITH norms AS (
         |  SELECT dd.source,
         |    CAST(floor(sqrt(${duckSumSqOf("e.embedding")}) * 1000000) AS BIGINT)
         |      AS norm_e6
         |  FROM embeddings e JOIN documents dd ON dd.doc_id = e.vec_id),
         |gstats AS (
         |  SELECT CAST(sum(norm_e6) // count(*) AS BIGINT) AS mean_e6 FROM norms)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(norm_e6) AS BIGINT) AS norm_sum_e6,
         |  CAST(min(norm_e6) AS BIGINT) AS norm_min_e6,
         |  CAST(max(norm_e6) AS BIGINT) AS norm_max_e6,
         |  CAST(sum(CASE WHEN norm_e6 * 100 < mean_e6 * 80 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_low,
         |  CAST(sum(CASE WHEN norm_e6 * 100 > mean_e6 * 120 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_high
         |FROM norms, gstats GROUP BY source ORDER BY source""".stripMargin,
    "sim_quantize_i8" -> {
      val q = "CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)"
      val e = s"(CAST(x AS DOUBLE) - $q * mx / 127.0)"
      s"""WITH m AS (
         |  SELECT vec_id, embedding,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
         |      (a, x) -> greatest(a, x)) AS mx
         |  FROM embeddings)
         |SELECT vec_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(embedding, x -> $q)), (a, x) -> a + x) AS sum_q,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(embedding,
         |      x -> CAST(CASE WHEN abs($q) = 127 THEN 1 ELSE 0 END AS BIGINT))),
         |    (a, x) -> a + x) AS n_sat,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(embedding,
         |      x -> CAST(floor($e * $e * 100000000.0 + 0.5) AS BIGINT))),
         |    (a, x) -> a + x) AS err_e8
         |FROM m WHERE mx > 0 ORDER BY vec_id""".stripMargin
    },
    "sim_pq_codes" -> {
      def distSql(m: Int, k: Int): String =
        (0 until 16).map { i =>
          val c = pqCentroid(m, k, i)
          val e = s"embedding[${16 * m + i + 1}]"
          s"($e - CAST($c AS DOUBLE)) * ($e - CAST($c AS DOUBLE))"
        }.mkString("(", " + ", ")")
      val dCols = (for (m <- 0 until 4; k <- 0 until 4)
        yield s"${distSql(m, k)} AS d_${m}_$k").mkString(",\n    ")
      val codeCols = (0 until 4).map { m =>
        s"(CASE WHEN d_${m}_0 <= d_${m}_1 AND d_${m}_0 <= d_${m}_2 AND d_${m}_0 <= d_${m}_3 THEN 0 " +
          s"WHEN d_${m}_1 <= d_${m}_2 AND d_${m}_1 <= d_${m}_3 THEN 1 " +
          s"WHEN d_${m}_2 <= d_${m}_3 THEN 2 ELSE 3 END) AS code_$m"
      }.mkString(",\n    ")
      val dminCols = (0 until 4).map(m =>
        s"least(d_${m}_0, d_${m}_1, d_${m}_2, d_${m}_3) AS dmin_$m").mkString(", ")
      s"""WITH dists AS (
         |  SELECT vec_id,
         |    $dCols
         |  FROM embeddings),
         |codes AS (
         |  SELECT vec_id,
         |    $codeCols,
         |    $dminCols
         |  FROM dists)
         |SELECT vec_id,
         |  CAST(code_0 + 4 * code_1 + 16 * code_2 + 64 * code_3 AS INT) AS pq_code,
         |  CAST(floor((dmin_0 + dmin_1 + dmin_2 + dmin_3) * 10000) AS BIGINT) AS err_e4
         |FROM codes ORDER BY vec_id""".stripMargin
    },
    "sim_pq_adc_topk" -> {
      def distSql(m: Int, k: Int): String =
        (0 until 16).map { i =>
          val c = pqCentroid(m, k, i)
          val e = s"embedding[${16 * m + i + 1}]"
          s"($e - CAST($c AS DOUBLE)) * ($e - CAST($c AS DOUBLE))"
        }.mkString("(", " + ", ")")
      val dCols = (for (m <- 0 until 4; k <- 0 until 4)
        yield s"${distSql(m, k)} AS d_${m}_$k").mkString(",\n    ")
      val codeCols = (0 until 4).map { m =>
        s"(CASE WHEN d_${m}_0 <= d_${m}_1 AND d_${m}_0 <= d_${m}_2 AND d_${m}_0 <= d_${m}_3 THEN 0 " +
          s"WHEN d_${m}_1 <= d_${m}_2 AND d_${m}_1 <= d_${m}_3 THEN 1 " +
          s"WHEN d_${m}_2 <= d_${m}_3 THEN 2 ELSE 3 END) AS code_$m"
      }.mkString(",\n    ")
      val adcSql = (0 until 4).map { m =>
        s"(CASE code_$m WHEN 0 THEN CAST(${AdcTables(m)(0)} AS DOUBLE) " +
          s"WHEN 1 THEN CAST(${AdcTables(m)(1)} AS DOUBLE) " +
          s"WHEN 2 THEN CAST(${AdcTables(m)(2)} AS DOUBLE) " +
          s"ELSE CAST(${AdcTables(m)(3)} AS DOUBLE) END)"
      }.mkString(" + ")
      s"""WITH dists AS (
         |  SELECT vec_id,
         |    $dCols
         |  FROM embeddings),
         |codes AS (
         |  SELECT vec_id,
         |    $codeCols
         |  FROM dists)
         |SELECT vec_id,
         |  CAST(floor(($adcSql) * 10000) AS BIGINT) AS adc_e4
         |FROM codes ORDER BY adc_e4, vec_id LIMIT 10""".stripMargin
    },
  )
}
