package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PipelineShared._

/** GRAPH-BASED ANN (r14, VERDICT r13 #1) — the one reference technology
  * the IVF/PQ tier did not yet represent: the reference's serving index
  * is ES HNSW (m=16, ef_construction=200, `MIGRATION_E5.md:97-111`;
  * dense_vector mapping at `elasticsearch_sync.py:327-333`). HNSW is a
  * pointer-chasing in-RAM structure; its SPARK-NATIVE re-expression is
  * relational: the graph is a NEIGHBOR TABLE (src, dst) built once as a
  * bounded equi-join pipeline, and a query is a BOUNDED BEAM SEARCH —
  * a fixed number of frontier-expansion joins (fixed hop count ⇒ the
  * physical plan is static, no driver-side iteration on data values).
  *
  * Graph build (the k-NN-graph construction NN-Descent approximates):
  *  - candidate edges from MULTIPROBE LSH: each node keys by its 8-bit
  *    hyperplane signature (`graft_lsh_bands`, the `sim_lsh_buckets`
  *    partitioner) and probes its own bucket plus the 8 Hamming-1
  *    buckets — a 9-key banded equi-join, never all-pairs; Hamming-1
  *    probing supplies the CROSS-bucket links beam navigation needs
  *    (the flat analogue of HNSW's upper-layer long-range edges).
  *  - per-node out-edges = top-M candidates by exact pairwise cosine
  *    (native `graft_cosine`, e6 fixed point, dst tie-break) — the
  *    neighbor-selection heuristic of HNSW §4 alg 3 reduced to its
  *    deterministic core; then SYMMETRIZE (union with reversed edges,
  *    distinct) so navigation can traverse either direction, and
  *    RE-PRUNE to 2M per node — HNSW's M_max shrink of incoming links,
  *    without which a hub node's degree (and a hop's expansion) is
  *    unbounded.
  *  - entry point = exhaustive scan of a deterministic 1/16 sample
  *    (vec_id % 16 = 0) — the relational stand-in for HNSW's upper
  *    layers: a small set searched exactly, seeding the bottom-layer
  *    walk.
  *
  * Beam search (ef=Beam, fixed Hops): each hop expands the current
  * top-Beam frontier through the neighbor table (a broadcast join of a
  * ≤Beam-row frontier against the edge table), scores arrivals against
  * the query via the precomputed per-node cosine, and folds them into
  * the visited set; the answer is the top-k of everything visited. The
  * visited-set SIZE rides the output, so a walk that expands more or
  * fewer nodes than the oracle's replay breaks the hash, not just the
  * ranking.
  *
  * Scale posture: the signature join is the same banded candidate
  * machinery every dedup entry uses (bounded by Σ(bucket+probe) sizes,
  * never quadratic in the corpus); per-node top-M is a TopKPerKey-shape
  * window; each hop moves ≤ Beam·2M candidate rows through a broadcast
  * join — the whole query path after the entry scan touches O(Beam·2M·
  * Hops) rows regardless of corpus size. `sim_recall_at_k`'s hnsw_beam
  * row prices what this navigation buys vs IVF/IVF-PQ at equal probe
  * budget.
  */
private[graft] object GraphAnnQueries {

  private[queries] val M = 4 // out-degree kept per node (pruned k-NN graph)
  private[queries] val Beam = 8 // beam width (HNSW ef)
  private[queries] val Hops = 3 // fixed expansion rounds ⇒ static plan
  private[queries] val EntryStride = 16 // upper-layer sample: vec_id % 16 = 0

  private val qCosE6 =
    "CAST(floor(graft_cosine(embedding, array_repeat(CAST(0.1 AS DOUBLE), 64)) " +
      "* 1000000) AS BIGINT)"

  /** (vec_id, embedding, sig): the LSH partition key every graph stage
    * joins on. */
  private[graft] def sigOf(df: DataFrame, bits: Int = 8): DataFrame =
    df.selectExpr("vec_id", "embedding",
      s"element_at(graft_lsh_bands(embedding, 1, $bits), 1) AS sig")

  private val edgeWindow =
    Window.partitionBy("src").orderBy(col("pair_e6").desc, col("dst").asc)

  /** Top-M out-edges of every `probe` node against the `index` side: the
    * 9-key multiprobe candidate join (own bucket + 8 Hamming-1 buckets)
    * scored by exact pairwise cosine. Probe and index sides are separate
    * so incremental maintenance can probe a small batch against the
    * whole corpus without re-pairing the corpus with itself. */
  private[graft] def outEdges(probe: DataFrame, index: DataFrame, bits: Int = 8): DataFrame = {
    val flips = (0 until bits).map(b => s"sig ^ ${1 << b}").mkString(", ")
    val probes = probe.selectExpr("vec_id AS src", "embedding AS ea",
      s"explode(array(sig, $flips)) AS key")
    probes
      .join(index.selectExpr("vec_id AS dst", "embedding AS eb", "sig AS key"),
        Seq("key"))
      .filter(col("src") =!= col("dst"))
      .selectExpr("src", "dst",
        "CAST(floor(graft_cosine(ea, eb) * 1000000) AS BIGINT) AS pair_e6")
      .withColumn("rn", row_number().over(edgeWindow))
      .filter(col("rn") <= M).select("src", "dst", "pair_e6")
  }

  /** Union with reversed edges; the pair score is symmetric and
    * deterministic, so the mutual-edge duplicate collapses under
    * distinct. */
  private[graft] def symmetrize(out: DataFrame): DataFrame =
    out.union(out.select(col("dst").as("src"), col("src").as("dst"),
      col("pair_e6"))).distinct()

  /** RE-PRUNE to 2M per node (HNSW's M_max shrink of incoming links):
    * without it a hub landing in many nodes' top-M has unbounded degree
    * and a single hop's expansion is unbounded too. Keeps pair_e6 — the
    * stored neighbor table carries the score so later maintenance can
    * re-rank touched nodes without re-scoring. */
  private[graft] def prune2M(edges: DataFrame): DataFrame =
    edges.withColumn("rn", row_number().over(edgeWindow))
      .filter(col("rn") <= 2 * M).select("src", "dst", "pair_e6")

  /** Symmetrized pruned k-NN neighbor table: (src, dst), degree ≤ 2M. */
  private[queries] def edgesDf(s: SparkSession, d: String, bits: Int = 8): DataFrame = {
    val sig = sigOf(Tables.embeddings(s, d), bits)
      .localCheckpoint() // feeds both sides of the probe join once
    prune2M(symmetrize(outEdges(sig, sig, bits))).select("src", "dst")
  }

  /** Per-node query-cosine scores, the arrival scoring of every hop. */
  private[queries] def scoredDf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).selectExpr("vec_id", s"$qCosE6 AS cos_e6")

  /** Memoized CHECKPOINTED builds (VERDICT r15 #5): the neighbor table
    * is a maintained artifact (`sim_hnsw_maintain` persists it), so the
    * walk/degree/recall/pagerank entries sharing one JVM serve from ONE
    * banded candidate join + prune instead of each re-building it. */
  private[queries] def edgesCkpt(s: SparkSession, d: String, bits: Int = 8): DataFrame =
    PipelineShared.memo(s, s"hnsw_edges|$d|$bits")(edgesDf(s, d, bits).localCheckpoint())
  private[queries] def scoredCkpt(s: SparkSession, d: String): DataFrame =
    PipelineShared.memo(s, s"hnsw_scored|$d")(scoredDf(s, d).localCheckpoint())

  /** The bounded beam walk from an arbitrary entry set — the kernel
    * [[walkDf]] seeds with the stride scan and the hierarchical descent
    * seeds with the upper layer's result. */
  private[queries] def walkFrom(entry: DataFrame, edges: DataFrame,
      scored: DataFrame, beam: Int): DataFrame = {
    var visited = entry
      .orderBy(col("cos_e6").desc, col("vec_id").asc).limit(beam)
    // Expanded-set tracking (HNSW's candidate/visited split): each hop's
    // frontier is the top-beam of visited nodes NOT yet expanded, so a
    // hop always pushes into new territory instead of re-expanding the
    // same global top-beam once the walk plateaus.
    var expanded = visited.select(col("vec_id")).limit(0)
    for (_ <- 1 to Hops) {
      val frontier = visited
        .join(expanded, Seq("vec_id"), "left_anti")
        .orderBy(col("cos_e6").desc, col("vec_id").asc).limit(beam)
        .select("vec_id")
        .localCheckpoint() // feeds both the expansion join and the expanded set
      val expand = edges
        .join(broadcast(frontier.select(col("vec_id").as("src"))), Seq("src"))
        .select(col("dst").as("vec_id")).distinct()
        .join(scored, Seq("vec_id"))
      visited = visited.union(expand).distinct()
      // no distinct (r21): each hop's frontier is anti-joined against
      // `expanded` before it is appended, so the union is already a set
      // — and `expanded` only ever feeds left_anti joins, where
      // duplicates cannot change the result. Dropping it removes one
      // exchange+aggregate from every later hop's frontier lineage.
      expanded = expanded.union(frontier)
    }
    visited
  }

  /** The bounded beam walk over a prebuilt (checkpointed) edge table and
    * score table, seeded by the stride entry scan — factored out so the
    * ef-sweep reuses one graph build across beam widths. */
  private[queries] def walkDf(edges: DataFrame, scored: DataFrame, beam: Int): DataFrame =
    walkFrom(scored.filter(col("vec_id") % EntryStride === 0), edges, scored, beam)

  /** The visited set of the bounded beam walk: (vec_id, cos_e6). */
  private[queries] def visitedDf(s: SparkSession, d: String): DataFrame =
    walkCkpt(s, d, 8, Beam)

  /** Memoized checkpointed WALK result (same rationale as [[edgesCkpt]]:
    * the default-parameter walk over a maintained graph is itself a
    * deterministic served artifact — topk / recall-audit / hier entries
    * sharing a JVM run it once). */
  private[queries] def walkCkpt(s: SparkSession, d: String, bits: Int, beam: Int): DataFrame =
    PipelineShared.memo(s, s"hnsw_walk|$d|$bits|$beam")(
      walkDf(edgesCkpt(s, d, bits), scoredCkpt(s, d), beam).localCheckpoint())

  /** Width-parameterized graph-ANN top-k — the ScaleBench deep-tier
    * entry: the battery pins bits=8 for oracle determinism, while the
    * scale runs feed the census-tuned width (the same `bandBits ∝
    * log2 N` lever every banded pipeline uses; at fixed 8 bits the
    * build's candidate volume is N²/2⁸-shaped and compounds at ×32). */
  private[graft] def hnswTopk(s: SparkSession, d: String, bits: Int): DataFrame = {
    val visited = walkCkpt(s, d, bits, Beam)
    val nv = visited.agg(count(lit(1)).as("n_visited"))
    visited.crossJoin(broadcast(nv))
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "cos_e6", "n_visited")
  }

  /** Graph-ANN top-k through the relational HNSW walk; the visited-set
    * size rides the hash so the navigation itself is pinned, not only
    * the final ranking. */
  private val simHnswTopk: Q = (s, d) => hnswTopk(s, d, 8)

  /** Build-side census: degree histogram of the symmetrized neighbor
    * table — pins the candidate join + top-M prune + symmetrize chain
    * independently of any query walk (degree ≤ 2M by construction; a
    * probe-set or prune regression moves a histogram row). */
  private val simHnswDegree: Q = (s, d) =>
    edgesCkpt(s, d)
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** ef-sweep: the beam walk at widths 4/8/16 over ONE graph build
    * (exactly how a served index prices its ef knob — the graph is
    * fixed, only the query-time beam varies). Per beam: visited-set
    * size (the work) and top-k overlap with brute-force truth (the
    * recall) — the measured recall-vs-cost curve that decides ef the
    * way `sim_lsh_tuner` decides band widths. Scale posture: the edge
    * and score tables build once; each walk moves O(beam·2M·Hops)
    * rows, so the sweep is 3 cheap walks, not 3 index builds. */
  private val simHnswEfSweep: Q = (s, d) => {
    val k = 10
    val scored = scoredCkpt(s, d)
    val gt = scored.orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(k).select("vec_id")
    // the three walks are independent bounded chains over ONE fixed
    // graph: run them concurrently (guide §2.6) and serve each from
    // the per-beam walk memo — beam 8 IS the default served walk
    // (`walkCkpt`), so the sweep shares it with sim_hnsw_topk /
    // sim_recall_at_k instead of re-walking it (r20).
    // Warm the SHARED graph artifact first (ADVICE r20): on a cold
    // session the three concurrent walks would otherwise race the
    // edgesCkpt memo — a deliberately-racy putIfAbsent — and build the
    // expensive banded edge join up to 3×, pinning the losing
    // checkpoints' blocks for the session. (scoredCkpt is already
    // warmed by the `scored` read above.)
    edgesCkpt(s, d, 8)
    val walks = PipelineShared.inParallel(Seq(4, 8, 16).map(beam =>
      () => walkCkpt(s, d, 8, beam)))
    val perBeam = Seq(4, 8, 16).zip(walks).map { case (beam, v) =>
      val nv = v.agg(count(lit(1)).as("n_visited"))
      v.orderBy(col("cos_e6").desc, col("vec_id").asc).limit(k)
        .select("vec_id")
        .withColumn("beam", lit(beam.toLong))
        .crossJoin(broadcast(nv))
    }.reduce(_ unionByName _)
    perBeam
      .join(gt.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
      .groupBy("beam")
      .agg(max("n_visited").as("n_visited"),
        count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("k", lit(k.toLong))
      .orderBy("beam")
  }

  /** INCREMENTAL graph maintenance — the daily-batch twin of the
    * band-index / vector-index maintenance tier, for the neighbor table:
    * the established corpus (vec_id %10 ≠ 0) owns a persisted graph; a
    * new batch (%10 = 0) inserts by probing its LSH buckets against the
    * WHOLE sig table (corpus + batch — never corpus×corpus again),
    * taking top-M out-edges, reversing them into the touched nodes, and
    * re-running only the 2M shrink over the merged edge set — untouched
    * nodes keep their rows verbatim under the deterministic rank. The
    * output also audits maintained-vs-rebuilt: n_common against a
    * from-scratch build prices the drift incremental insertion accrues
    * (real HNSW has the same property — insertion order matters).
    * Scale posture: the day's cost is O(batch·probe-bucket) candidates
    * + a shuffle of batch-adjacent edges; the corpus graph is read, not
    * re-paired; the full rebuild here is the AUDIT truth (sampled at
    * 100 TB, exactly like the recall audits). */
  private[graft] def hnswMaintain(s: SparkSession, d: String, bits: Int): DataFrame =
    hnswMaintainImpl(s, d, bits, emptyBatch = false)

  /** Fixed-cost probe for the maintenance cycle (VERDICT r17 #3): the
    * SAME plan/job/checkpoint structure as [[hnswMaintain]] with a
    * ZERO-ROW batch — what remains is per-job fixed cost (job launch,
    * localCheckpoint setup, empty shuffles, the memoized-artifact
    * reads), the additive term a ×32/×8 wall-clock ratio must be
    * adjusted by before reading it as a data-scaling slope. ScaleBench
    * reports it beside the real cycle at each factor. */
  private[graft] def hnswMaintainOverhead(s: SparkSession, d: String, bits: Int): DataFrame =
    hnswMaintainImpl(s, d, bits, emptyBatch = true)

  private def hnswMaintainImpl(s: SparkSession, d: String, bits: Int,
                               emptyBatch: Boolean): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // The corpus graph, its sig table, and the rebuilt-truth audit graph
    // are maintained ARTIFACTS (deterministic functions of (d, bits)) —
    // memoized like edgesCkpt/walkCkpt, so the RECURRING cost of a
    // maintenance cycle is what it is in production: probe the batch,
    // merge, shrink, audit-join — not a from-scratch corpus build per
    // cycle (VERDICT r16 #2: the deep-tier slope was the builds, not
    // the batch work; at 100 TB the corpus graph is the persisted table
    // and the rebuilt truth is a sampled audit, both amortized).
    val corpusSig = PipelineShared.memo(s, s"hnswm_corpus_sig|$d|$bits")(
      sigOf(emb.filter(col("vec_id") % 10 =!= 0), bits).localCheckpoint())
    val batchFilter =
      if (emptyBatch) lit(false) else col("vec_id") % 10 === 0
    val batchSig = sigOf(emb.filter(batchFilter), bits).localCheckpoint()
    val allSig = corpusSig.unionByName(batchSig)
    // the corpus graph, the batch's out-edges, and the rebuilt audit
    // truth are three independent eager builds — overlap them on the
    // driver pool (guide §2.6); same frames, concurrent job schedule.
    // rebuiltKey is computed up front so the thunk only builds (r20).
    val rebuiltKey = s"hnswm_rebuilt|$d|$bits" + (if (emptyBatch) "|empty" else "")
    val Seq(gc, no, rebuilt) = PipelineShared.inParallel(Seq(
      () => PipelineShared.memo(s, s"hnswm_gc|$d|$bits")(
        prune2M(symmetrize(outEdges(corpusSig, corpusSig, bits))).localCheckpoint()),
      () => outEdges(batchSig, allSig, bits).localCheckpoint(),
      () => PipelineShared.memo(s, rebuiltKey)(
        prune2M(symmetrize(outEdges(allSig, allSig, bits)))
          .select("src", "dst").localCheckpoint())))
    // The 2M shrink re-runs ONLY over touched nodes (batch srcs + the
    // corpus nodes their edges reverse into): an untouched src gains no
    // candidate rows, and its gc rows are already the top-2M of
    // themselves under the same deterministic rank, so re-pruning them
    // is the identity — keeping them verbatim is bit-identical (this is
    // the "untouched nodes keep their rows" claim made real in the
    // plan: the big corpus table crosses the shuffle ZERO times per
    // maintenance cycle; only batch-adjacent rows do).
    val reversed = no.select(col("dst").as("src"), col("src").as("dst"),
      col("pair_e6"))
    val touched = no.select(col("src")).unionByName(reversed.select(col("src")))
      .distinct().localCheckpoint()
    val maintained = prune2M(
      gc.join(broadcast(touched), Seq("src"), "left_semi")
        .unionByName(no).unionByName(reversed).distinct())
      .unionByName(gc.join(broadcast(touched), Seq("src"), "left_anti")
        .select("src", "dst", "pair_e6"))
      .select("src", "dst").localCheckpoint()
    val common = maintained.join(rebuilt, Seq("src", "dst"))
      .agg(count(lit(1)).as("n_common"))
    gc.agg(count(lit(1)).as("n_corpus_edges"))
      .crossJoin(broadcast(no.agg(count(lit(1)).as("n_new_out"))))
      .crossJoin(broadcast(no.filter(col("dst") % 10 =!= 0)
        .agg(countDistinct(col("dst")).as("n_touched"))))
      .crossJoin(broadcast(maintained.agg(count(lit(1)).as("n_maintained"))))
      .crossJoin(broadcast(rebuilt.agg(count(lit(1)).as("n_rebuild"))))
      .crossJoin(broadcast(common))
  }

  private val simHnswMaintain: Q = (s, d) => hnswMaintain(s, d, 8)

  /** TWO-LEVEL HIERARCHICAL descent — the actual HNSW layer structure,
    * not just its entry-scan stand-in: level 1 is the 1/16 stride
    * sample with ITS OWN neighbor table (same M/2M machinery over the
    * sample's sigs — sparser nodes ⇒ longer-range edges, exactly
    * HNSW's upper-layer role), entered from an exhaustive scan of the
    * 1/256 sample; the level-1 walk's top-Beam result SEEDS the
    * level-0 walk in place of `walkDf`'s N/16 entry scan. Exhaustive
    * scoring drops from N/16 to N/256 + two bounded walks — each
    * halving of the scan is another layer, the HNSW log-descent
    * recurrence. Output pins BOTH walks: per-level visited-set sizes
    * ride beside the final top-10. */
  /** The descent's two walks — (level-1 visited, level-0 visited), both
    * checkpointed; the level-0 edge/score tables come in prebuilt so
    * the recall audit shares one graph build with its flat-beam row. */
  private[queries] def hierWalks(s: SparkSession, d: String,
      edges0: DataFrame, scored0: DataFrame,
      bits: Int = 8): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
    val l1Scored = scored0.filter(col("vec_id") % EntryStride === 0)
      .localCheckpoint()
    val l1Sig = sigOf(emb.filter(col("vec_id") % EntryStride === 0), bits)
      .localCheckpoint()
    val l1Edges = prune2M(symmetrize(outEdges(l1Sig, l1Sig, bits)))
      .select("src", "dst").localCheckpoint()
    val l1Entry = l1Scored
      .filter(col("vec_id") % (EntryStride.toLong * EntryStride) === 0)
    val l1Visited = walkFrom(l1Entry, l1Edges, l1Scored, Beam).localCheckpoint()
    val seed = l1Visited
      .orderBy(col("cos_e6").desc, col("vec_id").asc).limit(Beam)
    val l0Visited = walkFrom(seed, edges0, scored0, Beam).localCheckpoint()
    (l1Visited, l0Visited)
  }

  /** Memoized hierarchical walk pair over the canonical checkpointed
    * edge/score builds (r20; the [[walkCkpt]] rationale verbatim): the
    * two-level descent is itself a deterministic served artifact —
    * `sim_hnsw_hier` and `sim_recall_at_k`'s hnsw_hier row used to each
    * re-run the ~10 eager per-hop checkpoint jobs of both layers' walks
    * per invocation. The frames inside [[hierWalks]] are already
    * checkpointed, so the memo only skips re-running the jobs. */
  private[queries] def hierWalksCkpt(s: SparkSession, d: String,
      bits: Int): (DataFrame, DataFrame) =
    PipelineShared.memo(s, s"hnsw_hier_walks|$d|$bits")(
      hierWalks(s, d, edgesCkpt(s, d, bits), scoredCkpt(s, d), bits))

  /** Width-parameterized descent (ScaleBench deep tier — BOTH layers'
    * builds are banded joins, so both take the census width). */
  private[graft] def hnswHier(s: SparkSession, d: String, bits: Int): DataFrame = {
    val (l1Visited, l0Visited) = hierWalksCkpt(s, d, bits)
    val counts = l1Visited.agg(count(lit(1)).as("n_visited_l1"))
      .crossJoin(broadcast(l0Visited.agg(count(lit(1)).as("n_visited_l0"))))
    l0Visited.crossJoin(broadcast(counts))
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "cos_e6", "n_visited_l1", "n_visited_l0")
  }

  private val simHnswHier: Q = (s, d) => hnswHier(s, d, 8)

  /** BATCHED multi-query beam walk — the serving shape a RELATIONAL
    * graph index is uniquely good at: a pointer-chasing HNSW answers
    * queries one at a time, while here a whole query batch walks the
    * SAME graph simultaneously — the frontier carries a qid column,
    * every hop is still ONE broadcast join (≤ NQ·Beam frontier rows),
    * and per-query ordering is a qid-partitioned window, so the cost
    * of a hop is amortized across the batch (the scan of the edge
    * table and the arrival scoring never repeat per query). Query
    * vectors are a deterministic grid q_i[j] = (((i·7+j·3) mod 19)−9)/10
    * — the PQ-codebook discipline — evaluated as the same arithmetic
    * expression in both engines, so no literals can drift. Output:
    * per-query top-5 plus per-query visited-set size (the walk's work,
    * pinned per qid). At 100 TB the batch dimension is how a Spark
    * cluster serves ANN: thousands of queries per walk, one pass. */
  /** Width-parameterized batched walk, the ScaleBench deep-tier entry
    * (the build is the banded join with the N²/2^bits volume; the NQ
    * walks are bounded regardless of width). */
  private[graft] def hnswBatch(s: SparkSession, d: String, bits: Int): DataFrame = {
    val NQ = 4
    val qv = "transform(sequence(0, 63), " +
      "j -> CAST(((qid * 7 + j * 3) % 19) - 9 AS DOUBLE) / 10.0D)"
    val scored = Tables.embeddings(s, d)
      .selectExpr("vec_id", "embedding",
        s"explode(array(${(0 until NQ).mkString(", ")})) AS qid")
      .selectExpr("qid", "vec_id",
        s"CAST(floor(graft_cosine(embedding, $qv) * 1000000) AS BIGINT) AS cos_e6")
      .localCheckpoint() // arrival scoring for every hop, all queries
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
    def topPerQ(df: DataFrame, k: Int): DataFrame =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
    val edges = edgesCkpt(s, d, bits)
    var visited = topPerQ(scored.filter(col("vec_id") % EntryStride === 0), Beam)
    var expanded = visited.select("qid", "vec_id").limit(0)
    for (_ <- 1 to Hops) {
      val frontier =
        topPerQ(visited.join(expanded, Seq("qid", "vec_id"), "left_anti"), Beam)
          .select("qid", "vec_id")
          .localCheckpoint() // feeds the hop join and the expanded set
      val expand = edges
        .join(broadcast(frontier.withColumnRenamed("vec_id", "src")), Seq("src"))
        .select(col("qid"), col("dst").as("vec_id")).distinct()
        .join(scored, Seq("qid", "vec_id"))
        .select("qid", "vec_id", "cos_e6")
      visited = visited.union(expand).distinct()
      // no distinct (r21): same argument as walkFrom — the frontier was
      // anti-joined against `expanded`, and `expanded` only feeds
      // left_anti joins
      expanded = expanded.union(frontier)
    }
    val nv = visited.groupBy("qid").agg(count(lit(1)).as("n_visited"))
    topPerQ(visited, 5)
      .join(nv, Seq("qid"))
      .select("qid", "vec_id", "cos_e6", "n_visited")
      .orderBy(col("qid"), col("cos_e6").desc, col("vec_id").asc)
  }

  private val simHnswBatch: Q = (s, d) => hnswBatch(s, d, 8)

  /** The maintained graph for an (established corpus, inserted batch)
    * sig split — the incremental-insert kernel hnswMaintain audits and
    * the order audit runs twice with the roles swapped. */
  private def maintainedEdges(corpusSig: DataFrame, batchSig: DataFrame): DataFrame = {
    val gc = prune2M(symmetrize(outEdges(corpusSig, corpusSig)))
    val no = outEdges(batchSig, corpusSig.unionByName(batchSig))
    prune2M(
      gc.unionByName(no)
        .unionByName(no.select(col("dst").as("src"), col("src").as("dst"),
          col("pair_e6")))
        .distinct())
  }

  /** INSERTION-ORDER sensitivity audit — the honesty check on the
    * incremental tier: real HNSW's graph depends on insertion order,
    * and so does the relational reduction (an inserted batch probes
    * the graphless sig table, it cannot receive the out-edges a full
    * rebuild would give its nodes). The audit builds the SAME corpus
    * twice — insert B over established A, then A over established B —
    * plus the order-free rebuild, and hash-pins the three pairwise
    * overlaps: how much graph the two orders disagree on, and how far
    * each sits from the rebuild. At 100 TB this is the number that
    * decides the periodic-rebuild cadence (the same role the ANN
    * drift audit plays for the IVF layout). */
  private val simHnswOrderAudit: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    // the two sig halves build concurrently, then the three graph
    // builds (B-over-A, A-over-B, order-free rebuild) — mutually
    // independent eager checkpoint chains — overlap on the driver
    // pool instead of serializing (guide §2.6); frames are identical
    // to the sequential build, only the job schedule changes (r20)
    val Seq(a, b) = PipelineShared.inParallel(Seq(
      () => sigOf(emb.filter(col("vec_id") % 2 === 0)).localCheckpoint(),
      () => sigOf(emb.filter(col("vec_id") % 2 =!= 0)).localCheckpoint()))
    val Seq(gab, gba, rebuilt) = PipelineShared.inParallel(Seq(
      () => maintainedEdges(a, b).select("src", "dst").localCheckpoint(),
      () => maintainedEdges(b, a).select("src", "dst").localCheckpoint(),
      () => {
        val all = a.unionByName(b).localCheckpoint()
        prune2M(symmetrize(outEdges(all, all)))
          .select("src", "dst").localCheckpoint()
      }))
    def n(df: DataFrame, name: String) = df.agg(count(lit(1)).as(name))
    gab.agg(count(lit(1)).as("n_ab"))
      .crossJoin(broadcast(n(gba, "n_ba")))
      .crossJoin(broadcast(n(rebuilt, "n_rebuild")))
      .crossJoin(broadcast(n(gab.join(gba, Seq("src", "dst")), "n_order_common")))
      .crossJoin(broadcast(n(gab.join(rebuilt, Seq("src", "dst")), "n_ab_rebuild")))
      .crossJoin(broadcast(n(gba.join(rebuilt, Seq("src", "dst")), "n_ba_rebuild")))
  }

  /** SERVED beam walk over the PERSISTED src-bucketed neighbor table —
    * the 100 TB read path the in-memory walk models: the graph lives as
    * a TableMerge layout partitioned by `ebucket = src % 16`, and
    * each hop reads ONLY the frontier's buckets — the `isin` on the
    * partition column resolves to partition pruning, so a hop's I/O is
    * O(beam) partition dirs, never the table (GraphAnnSpec pins the
    * pruned-scan shape). The ≤Beam frontier ids collect to the driver
    * per hop — the same sanctioned bounded collect the k-means sync
    * uses (Beam·Hops ≤ 24 ids total); everything else stays
    * distributed. Output (and oracle) identical to `sim_hnsw_topk`:
    * the layout changes WHERE bytes are read, not what the walk
    * computes. */
  private[graft] def hnswProbedTopk(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TableMerge
    val NB = 16
    // The src-bucketed neighbor TABLE is the persisted serving artifact
    // (graphIndexSink maintains it in production); build it once per
    // session from the shared checkpointed edge build instead of
    // re-deriving sig + candidate join + CTAS per invocation (r20, the
    // ivfidx_seed precedent) — the per-call cost is then what serving
    // pays: the hops' pruned reads + the walk. Edge SET identical to
    // the previous inline build (same prune2M(symmetrize(outEdges)));
    // the table simply no longer stores the pair_e6 score column,
    // which no reader consumed.
    val path = PipelineShared.memo(s, s"hnsw_probed_table|$d") {
      val p = PipelineShared.wipedStatePath(s"hnswidx_${new java.io.File(d).getName}")
      TableMerge.createOrReplace(
        edgesCkpt(s, d).withColumn("ebucket", pmod(col("src"), lit(NB))),
        p, Seq("ebucket"))
      p
    }
    val scored = scoredCkpt(s, d)
    var visited = scored.filter(col("vec_id") % EntryStride === 0)
      .orderBy(col("cos_e6").desc, col("vec_id").asc).limit(Beam)
      .localCheckpoint()
    var expandedIds = Set.empty[Long]
    for (_ <- 1 to Hops) {
      val unexpanded =
        if (expandedIds.isEmpty) visited
        else visited.filter(!col("vec_id").isin(expandedIds.toSeq: _*))
      val frontierIds = unexpanded
        .orderBy(col("cos_e6").desc, col("vec_id").asc).limit(Beam)
        .select("vec_id").collect().map(_.getLong(0)).toSeq // ≤ Beam rows
      val buckets = frontierIds.map(_ % NB).distinct
      val expand = TableMerge.read(s, path)
        .filter(col("ebucket").isin(buckets: _*) &&
          col("src").isin(frontierIds: _*))
        .select(col("dst").as("vec_id")).distinct()
        .join(scored, Seq("vec_id"))
      visited = visited.union(expand).distinct().localCheckpoint()
      expandedIds ++= frontierIds
    }
    val nv = visited.agg(count(lit(1)).as("n_visited"))
    visited.crossJoin(broadcast(nv))
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "cos_e6", "n_visited")
  }

  private val simHnswProbed: Q = (s, d) => hnswProbedTopk(s, d)

  /** PageRank rounds (fixed ⇒ static plan in both engines). */
  private[queries] val PrIters = 5

  /** GRAPH CENTRALITY over the k-NN neighbor table — PageRank on the
    * same symmetrized 2M-pruned graph the beam walks traverse (Page/
    * Brin/Motwani/Winograd 1999): a training-data pipeline uses it for
    * CANONICAL/coreset selection — the highest-rank node of a near-dup
    * or topic cluster is the best-connected representative, not an
    * arbitrary min-id survivor. Pure integer recurrence: r₀ = 1e6,
    * rₜ₊₁(v) = 150000 + ⌊85·Σ_{u→v}⌊rₜ(u)/deg(u)⌋ / 100⌋ — floor
    * division at both steps, so both engines walk bit-identical BIGINT
    * states, no float anywhere. $PrIters unrolled rounds = one static
    * plan (the kmeans-chain discipline). Scale posture: each round is
    * one shuffle of the edge table keyed by src then dst — degree is
    * capped at 2M by construction, so a round moves O(N·2M) rows and
    * a hub can never blow up a partition; ranks stay (vec_id, BIGINT)
    * — the 100 TB shape is iterate-over-edges with AQE handling the
    * residual skew. Isolated vectors (no LSH candidate at all) have no
    * edges and are out of scope of a graph ranking by definition. */
  /** The rank table `(vec_id, r)` after [[PrIters]] rounds — shared by
    * the centrality battery row and the canonical-representative
    * composition ([[GraphMetricsQueries]]). */
  private[queries] def pagerankRanks(s: SparkSession, d: String): DataFrame = {
    val edges = edgesCkpt(s, d) // feeds deg + every round
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // joined into every round's contribution
    var ranks = deg.select(col("src").as("vec_id"), lit(1000000L).as("r"))
    for (_ <- 1 to PrIters) {
      ranks = edges
        .join(ranks.withColumnRenamed("vec_id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .selectExpr("dst", "r DIV deg AS contrib")
        .groupBy("dst")
        .agg(expr("150000 + (85 * sum(contrib)) DIV 100").as("r"))
        .select(col("dst").as("vec_id"), col("r"))
    }
    ranks
  }

  /** Memoized CHECKPOINTED rank table (r20): the centrality ranking is
    * a served artifact over the maintained neighbor table — consumers
    * (`graph_pagerank`, `dedup_canonical`) read one materialized table
    * instead of each re-executing the PrIters-round unrolled plan. */
  private[queries] def pagerankRanksCkpt(s: SparkSession, d: String): DataFrame =
    PipelineShared.memo(s, s"hnsw_pagerank|$d")(
      pagerankRanks(s, d).localCheckpoint())

  private val simGraphPagerank: Q = (s, d) => {
    val ranks = pagerankRanksCkpt(s, d)
    val n = ranks.agg(count(lit(1)).as("n_nodes"),
      sum("r").as("rank_mass_e6"))
    ranks.crossJoin(broadcast(n))
      .orderBy(col("r").desc, col("vec_id").asc)
      .limit(20)
      .select(col("vec_id"), col("r").as("rank_e6"),
        col("n_nodes"), col("rank_mass_e6"))
  }

  val queries: Seq[(String, Q)] = Seq(
    "graph_pagerank" -> simGraphPagerank,
    "sim_hnsw_topk" -> simHnswTopk,
    "sim_hnsw_degree" -> simHnswDegree,
    "sim_hnsw_ef_sweep" -> simHnswEfSweep,
    "sim_hnsw_maintain" -> simHnswMaintain,
    "sim_hnsw_probed" -> simHnswProbed,
    "sim_hnsw_order_audit" -> simHnswOrderAudit,
    "sim_hnsw_batch" -> simHnswBatch,
    "sim_hnsw_hier" -> simHnswHier,
  )

  // ------------------------------------------------------- DuckDB replay

  /** Pairwise cosine e6 — the graft_cosine fold pair (dot zip, two
    * sum-sq norms), same fragment `search_rag_mmr`'s sims CTE pins. */
  private def duckPairCos(ea: String, eb: String): String =
    s"""CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(list_zip($ea, $eb),
       |        pz -> CAST(pz[1] AS DOUBLE) * CAST(pz[2] AS DOUBLE))),
       |      (af, xf) -> af + xf)
       |    / (sqrt(${duckSumSqOf(ea)}) * sqrt(${duckSumSqOf(eb)})))
       |  * 1000000) AS BIGINT)""".stripMargin

  /** Query cosine e6 vs q = 0.1·1⃗ — mirrors the sim_cosine_native
    * oracle's three sequential folds. */
  private val duckQCos: String =
    s"""CAST(floor(
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x)
       |  / (sqrt($duckSumSq)
       |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_transform(embedding,
       |           x -> CAST(0.1 AS DOUBLE) * CAST(0.1 AS DOUBLE))), (a, x) -> a + x)))
       |  * 1000000) AS BIGINT)""".stripMargin

  /** `$name(vec_id, embedding, sig)` over any embedding-shaped source. */
  private def duckSigCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding,
       |    ${VectorQueries.duckLshBits("embedding").mkString(" + ")} AS sig
       |  FROM $src)""".stripMargin

  /** Probe + candidate + top-M chain (mirrors [[outEdges]]); final CTE
    * is `${p}out(src, dst, pair_e6)`. */
  private def duckOutCtes(p: String, probeSig: String, idxSig: String): String = {
    val probeList = "sig" +: (0 until 8).map(b => s"xor(sig, ${1 << b})")
    s"""${p}probes AS (
       |  SELECT vec_id, embedding, u.k AS key
       |  FROM $probeSig, UNNEST([${probeList.mkString(", ")}]) u(k)),
       |${p}cand AS (
       |  SELECT p.vec_id AS src, t.vec_id AS dst,
       |    ${duckPairCos("p.embedding", "t.embedding")} AS pair_e6
       |  FROM ${p}probes p JOIN $idxSig t
       |    ON p.key = t.sig AND p.vec_id <> t.vec_id),
       |${p}out AS (
       |  SELECT src, dst, pair_e6 FROM (
       |    SELECT src, dst, pair_e6,
       |      row_number() OVER (PARTITION BY src ORDER BY pair_e6 DESC, dst ASC) AS rn
       |    FROM ${p}cand) r WHERE rn <= $M)""".stripMargin
  }

  private def duckSymCte(name: String, out: String): String =
    s"""$name AS (
       |  SELECT DISTINCT src, dst, pair_e6 FROM (
       |    SELECT src, dst, pair_e6 FROM $out
       |    UNION ALL SELECT dst AS src, src AS dst, pair_e6 FROM $out) u2)""".stripMargin

  private def duckPruneCte(name: String, src: String, cols: String): String =
    s"""$name AS (
       |  SELECT $cols FROM (
       |    SELECT src, dst, pair_e6,
       |      row_number() OVER (PARTITION BY src ORDER BY pair_e6 DESC, dst ASC) AS rn
       |    FROM $src) r2 WHERE rn <= ${2 * M})""".stripMargin

  /** CTE chain through the symmetrized edge table, prefix-namespaced so
    * it splices into other oracles (the recall audit) collision-free. */
  private[queries] def duckEdgeCtes(p: String): String =
    s"""${duckSigCte(s"${p}sig", "embeddings")},
       |${duckOutCtes(p, s"${p}sig", s"${p}sig")},
       |${duckSymCte(s"${p}sym", s"${p}out")},
       |${duckPruneCte(s"${p}edges", s"${p}sym", "src, dst")}""".stripMargin

  /** Walk-only CTE chain over prebuilt edge/score CTEs (mirrors
    * [[walkDf]]): entry scan, expanded-set chain, unrolled hops; the
    * final visited set is `${p}v$Hops`. */
  private[queries] def duckWalkCtes(p: String, edges: String, scored: String,
      beam: Int, entry: String = ""): String = {
    val entrySql =
      if (entry.nonEmpty) entry
      else s"""SELECT vec_id, cos_e6 FROM $scored WHERE vec_id % $EntryStride = 0
              |  ORDER BY cos_e6 DESC, vec_id ASC LIMIT $beam""".stripMargin
    val hops = (1 to Hops).map { h =>
      s"""${p}f$h AS (
         |  SELECT vec_id FROM ${p}v${h - 1}
         |  WHERE vec_id NOT IN (SELECT vec_id FROM ${p}exp${h - 1})
         |  ORDER BY cos_e6 DESC, vec_id ASC LIMIT $beam),
         |${p}exp$h AS (
         |  SELECT vec_id FROM ${p}exp${h - 1}
         |  UNION SELECT vec_id FROM ${p}f$h),
         |${p}x$h AS (
         |  SELECT DISTINCT s.vec_id, s.cos_e6
         |  FROM ${p}f$h f JOIN $edges e ON e.src = f.vec_id
         |  JOIN $scored s ON s.vec_id = e.dst),
         |${p}v$h AS (
         |  SELECT DISTINCT vec_id, cos_e6 FROM (
         |    SELECT vec_id, cos_e6 FROM ${p}v${h - 1}
         |    UNION ALL SELECT vec_id, cos_e6 FROM ${p}x$h) u$h)""".stripMargin
    }.mkString(",\n")
    s"""${p}exp0 AS (SELECT CAST(NULL AS BIGINT) AS vec_id WHERE FALSE),
       |${p}v0 AS ($entrySql),
       |$hops""".stripMargin
  }

  /** CTE chain for the full walk: edges + per-node query cosine + the
    * unrolled hops; the final visited set is `${p}v$Hops`. */
  private[queries] def duckVisitedCtes(p: String): String =
    s"""${duckEdgeCtes(p)},
       |${p}scored AS (SELECT vec_id, $duckQCos AS cos_e6 FROM embeddings),
       |${duckWalkCtes(p, s"${p}edges", s"${p}scored", Beam)}""".stripMargin

  private val duckTopkWalk: String =
    s"""WITH ${duckVisitedCtes("h")}
       |SELECT vec_id, cos_e6,
       |  (SELECT CAST(count(*) AS BIGINT) FROM hv$Hops) AS n_visited
       |FROM hv$Hops ORDER BY cos_e6 DESC, vec_id ASC LIMIT 10""".stripMargin

  /** CTE fragment replaying the hierarchical descent — splice-safe
    * names (yscored / l1* / w1* / g* / w0*, disjoint from the recall
    * oracle's and [[duckVisitedCtes]]'s h-chain); the final level-0
    * visited set is `w0v$Hops(vec_id, cos_e6)` and the level-1 set is
    * `w1v$Hops`. */
  private[queries] def duckHierChain: String = {
    val l1EdgeChain =
      s"""l1 AS (SELECT * FROM embeddings WHERE vec_id % $EntryStride = 0),
         |${duckSigCte("l1sig", "l1")},
         |${duckOutCtes("l1", "l1sig", "l1sig")},
         |${duckSymCte("l1sym", "l1out")},
         |${duckPruneCte("l1edges", "l1sym", "src, dst")}""".stripMargin
    val l1Entry =
      s"""SELECT vec_id, cos_e6 FROM l1scored
         |  WHERE vec_id % ${EntryStride.toLong * EntryStride} = 0
         |  ORDER BY cos_e6 DESC, vec_id ASC LIMIT $Beam""".stripMargin
    val l0Entry =
      s"""SELECT vec_id, cos_e6 FROM w1v$Hops
         |  ORDER BY cos_e6 DESC, vec_id ASC LIMIT $Beam""".stripMargin
    s"""yscored AS (SELECT vec_id, $duckQCos AS cos_e6 FROM embeddings),
       |l1scored AS (SELECT vec_id, cos_e6 FROM yscored
       |             WHERE vec_id % $EntryStride = 0),
       |$l1EdgeChain,
       |${duckWalkCtes("w1", "l1edges", "l1scored", Beam, l1Entry)},
       |${duckEdgeCtes("g")},
       |${duckWalkCtes("w0", "gedges", "yscored", Beam, l0Entry)}""".stripMargin
  }

  /** Unrolled integer PageRank rounds over the g-chain edge CTEs. */
  private[queries] def duckPagerankCtes: String = {
    val rounds = (1 to PrIters).map { t =>
      s"""pr$t AS (
         |  SELECT e.dst AS vec_id,
         |    150000 + (85 * sum(r.r // d.deg)) // 100 AS r
         |  FROM gedges e
         |  JOIN pr${t - 1} r ON r.vec_id = e.src
         |  JOIN gdeg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""${duckEdgeCtes("g")},
       |gdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM gedges GROUP BY src),
       |pr0 AS (SELECT src AS vec_id, CAST(1000000 AS BIGINT) AS r FROM gdeg),
       |$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "graph_pagerank" ->
      s"""WITH $duckPagerankCtes,
         |nmass AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(r) AS BIGINT) AS rank_mass_e6 FROM pr$PrIters)
         |SELECT p.vec_id, CAST(p.r AS BIGINT) AS rank_e6, m.n_nodes, m.rank_mass_e6
         |FROM pr$PrIters p, nmass m
         |ORDER BY p.r DESC, p.vec_id ASC LIMIT 20""".stripMargin,
    // the probed read changes WHERE bytes come from, not the walk:
    // same replay as sim_hnsw_topk
    "sim_hnsw_hier" ->
      s"""WITH $duckHierChain
         |SELECT vec_id, cos_e6,
         |  (SELECT CAST(count(*) AS BIGINT) FROM w1v$Hops) AS n_visited_l1,
         |  (SELECT CAST(count(*) AS BIGINT) FROM w0v$Hops) AS n_visited_l0
         |FROM w0v$Hops ORDER BY cos_e6 DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sim_hnsw_batch" -> {
      val beamHops = (1 to Hops).map { h =>
        s"""bf$h AS (
           |  SELECT qid, vec_id FROM (
           |    SELECT v.qid, v.vec_id,
           |      row_number() OVER (PARTITION BY v.qid
           |        ORDER BY v.cos_e6 DESC, v.vec_id ASC) AS rn
           |    FROM bv${h - 1} v
           |    WHERE NOT EXISTS (SELECT 1 FROM bexp${h - 1} x
           |      WHERE x.qid = v.qid AND x.vec_id = v.vec_id)) r
           |  WHERE rn <= $Beam),
           |bexp$h AS (
           |  SELECT qid, vec_id FROM bexp${h - 1}
           |  UNION SELECT qid, vec_id FROM bf$h),
           |bx$h AS (
           |  SELECT DISTINCT f.qid, s.vec_id, s.cos_e6
           |  FROM bf$h f JOIN gedges e ON e.src = f.vec_id
           |  JOIN bscored s ON s.qid = f.qid AND s.vec_id = e.dst),
           |bv$h AS (
           |  SELECT DISTINCT qid, vec_id, cos_e6 FROM (
           |    SELECT qid, vec_id, cos_e6 FROM bv${h - 1}
           |    UNION ALL SELECT qid, vec_id, cos_e6 FROM bx$h) u$h)""".stripMargin
      }.mkString(",\n")
      s"""WITH qs AS (SELECT CAST(q AS INT) AS qid FROM generate_series(0, 3) t(q)),
         |qvs AS (SELECT qid, list_transform(generate_series(0, 63),
         |  j -> CAST(((qid * 7 + j * 3) % 19) - 9 AS DOUBLE) / 10.0) AS qv
         |  FROM qs),
         |bscored AS (
         |  SELECT q.qid, e.vec_id,
         |    ${duckPairCos("e.embedding", "q.qv")} AS cos_e6
         |  FROM embeddings e, qvs q),
         |${duckEdgeCtes("g")},
         |bexp0 AS (SELECT CAST(NULL AS INT) AS qid, CAST(NULL AS BIGINT) AS vec_id
         |          WHERE FALSE),
         |bv0 AS (
         |  SELECT qid, vec_id, cos_e6 FROM (
         |    SELECT qid, vec_id, cos_e6,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY cos_e6 DESC, vec_id ASC) AS rn
         |    FROM bscored WHERE vec_id % $EntryStride = 0) r0
         |  WHERE rn <= $Beam),
         |$beamHops,
         |bnv AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_visited
         |        FROM bv$Hops GROUP BY qid)
         |SELECT t.qid, t.vec_id, t.cos_e6, bnv.n_visited
         |FROM (
         |  SELECT qid, vec_id, cos_e6 FROM (
         |    SELECT qid, vec_id, cos_e6,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY cos_e6 DESC, vec_id ASC) AS rn
         |    FROM bv$Hops) rt WHERE rn <= 5) t
         |JOIN bnv ON bnv.qid = t.qid
         |ORDER BY t.qid, t.cos_e6 DESC, t.vec_id ASC""".stripMargin
    },
    "sim_hnsw_order_audit" -> {
      // one maintained-graph CTE chain, instantiated for both insertion
      // orders (prefix c?/b? per role), plus the order-free rebuild
      def maintChain(p: String, corpusSrc: String, batchSrc: String): String =
        s"""${duckSigCte(s"${p}csig", corpusSrc)},
           |${duckOutCtes(s"${p}c", s"${p}csig", s"${p}csig")},
           |${duckSymCte(s"${p}csym", s"${p}cout")},
           |${duckPruneCte(s"${p}cgraph", s"${p}csym", "src, dst, pair_e6")},
           |${duckSigCte(s"${p}bsig", batchSrc)},
           |${p}asig AS (SELECT * FROM ${p}csig UNION ALL SELECT * FROM ${p}bsig),
           |${duckOutCtes(s"${p}b", s"${p}bsig", s"${p}asig")},
           |${p}merged AS (
           |  SELECT DISTINCT src, dst, pair_e6 FROM (
           |    SELECT src, dst, pair_e6 FROM ${p}cgraph
           |    UNION ALL SELECT src, dst, pair_e6 FROM ${p}bout
           |    UNION ALL SELECT dst AS src, src AS dst, pair_e6 FROM ${p}bout) um),
           |${duckPruneCte(s"${p}maint", s"${p}merged", "src, dst")}""".stripMargin
      s"""WITH evens AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
         |odds AS (SELECT * FROM embeddings WHERE vec_id % 2 <> 0),
         |${maintChain("x", "evens", "odds")},
         |${maintChain("y", "odds", "evens")},
         |${duckEdgeCtes("g")}
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM xmaint) AS n_ab,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ymaint) AS n_ba,
         |  (SELECT CAST(count(*) AS BIGINT) FROM gedges) AS n_rebuild,
         |  (SELECT CAST(count(*) AS BIGINT) FROM xmaint m JOIN ymaint o
         |     ON m.src = o.src AND m.dst = o.dst) AS n_order_common,
         |  (SELECT CAST(count(*) AS BIGINT) FROM xmaint m JOIN gedges g
         |     ON m.src = g.src AND m.dst = g.dst) AS n_ab_rebuild,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ymaint m JOIN gedges g
         |     ON m.src = g.src AND m.dst = g.dst) AS n_ba_rebuild""".stripMargin
    },
    "sim_hnsw_probed" -> duckTopkWalk,
    "sim_hnsw_topk" -> duckTopkWalk,
    "sim_hnsw_degree" ->
      s"""WITH ${duckEdgeCtes("g")},
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
         |        FROM gedges GROUP BY src)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,
    "sim_hnsw_ef_sweep" -> {
      val k = 10
      val beams = Seq(4 -> "wa", 8 -> "wb", 16 -> "wc")
      val walks = beams.map { case (beam, pp) =>
        duckWalkCtes(pp, "wedges", "wscored", beam)
      }.mkString(",\n")
      val rows = beams.map { case (beam, pp) =>
        s"""SELECT CAST($beam AS BIGINT) AS beam, vec_id,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${pp}v$Hops) AS n_visited
           |FROM (SELECT vec_id FROM ${pp}v$Hops
           |      ORDER BY cos_e6 DESC, vec_id ASC LIMIT $k) ${pp}top""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${duckEdgeCtes("w")},
         |wscored AS (SELECT vec_id, $duckQCos AS cos_e6 FROM embeddings),
         |$walks,
         |gt AS (SELECT vec_id FROM wscored
         |       ORDER BY cos_e6 DESC, vec_id ASC LIMIT $k),
         |method_rows AS (
         |$rows)
         |SELECT m.beam, max(m.n_visited) AS n_visited,
         |  CAST(count(*) AS BIGINT) AS n_returned,
         |  CAST(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  CAST($k AS BIGINT) AS k
         |FROM method_rows m LEFT JOIN gt g ON m.vec_id = g.vec_id
         |GROUP BY m.beam ORDER BY m.beam""".stripMargin
    },
    "sim_hnsw_maintain" ->
      s"""WITH corpus AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 0),
         |batch AS (SELECT * FROM embeddings WHERE vec_id % 10 = 0),
         |${duckSigCte("csig", "corpus")},
         |${duckOutCtes("c", "csig", "csig")},
         |${duckSymCte("csym", "cout")},
         |${duckPruneCte("cgraph", "csym", "src, dst, pair_e6")},
         |${duckSigCte("bsig", "batch")},
         |asig AS (SELECT * FROM csig UNION ALL SELECT * FROM bsig),
         |${duckOutCtes("b", "bsig", "asig")},
         |merged AS (
         |  SELECT DISTINCT src, dst, pair_e6 FROM (
         |    SELECT src, dst, pair_e6 FROM cgraph
         |    UNION ALL SELECT src, dst, pair_e6 FROM bout
         |    UNION ALL SELECT dst AS src, src AS dst, pair_e6 FROM bout) um),
         |${duckPruneCte("maint", "merged", "src, dst")},
         |${duckEdgeCtes("g")}
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM cgraph) AS n_corpus_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bout) AS n_new_out,
         |  (SELECT CAST(count(DISTINCT dst) AS BIGINT) FROM bout
         |     WHERE dst % 10 <> 0) AS n_touched,
         |  (SELECT CAST(count(*) AS BIGINT) FROM maint) AS n_maintained,
         |  (SELECT CAST(count(*) AS BIGINT) FROM gedges) AS n_rebuild,
         |  (SELECT CAST(count(*) AS BIGINT) FROM maint m JOIN gedges g
         |     ON m.src = g.src AND m.dst = g.dst) AS n_common""".stripMargin,
  )
}
