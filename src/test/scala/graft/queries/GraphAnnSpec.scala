package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Graph-ANN tier properties the oracle hash can't isolate on its own:
  * the beam walk makes PROGRESS (each hop expands not-yet-expanded
  * frontier nodes — the r14 walk re-expanded the global top-Beam and
  * stalled on descending-score chains), the neighbor table honors the
  * 2M degree cap, and incremental maintenance only ever grows a node's
  * edge list up to the cap.
  */
class GraphAnnSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("beam walk advances down a descending-score chain (no re-expansion stall)") {
    import spark.implicits._
    // chain 16—17—18—19 with scores DESCENDING away from the entry: the
    // global top-1 of the visited set is always node 16, so a walk that
    // re-picks the global top-Beam as its frontier re-expands 16 forever
    // and never gets past 17. Frontier-progress tracking must reach 19
    // in exactly Hops=3 hops at beam=1.
    val edges = Seq((16L, 17L), (17L, 16L), (17L, 18L), (18L, 17L),
      (18L, 19L), (19L, 18L)).toDF("src", "dst")
    val scored = Seq((16L, 100L), (17L, 90L), (18L, 80L), (19L, 70L))
      .toDF("vec_id", "cos_e6")
    val visited = GraphAnnQueries.walkDf(edges, scored, beam = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(visited == Set(16L, 17L, 18L, 19L))
  }

  test("beam walk visited set always contains the entry scan") {
    import spark.implicits._
    val scored = GraphAnnQueries.scoredDf(spark, sf).localCheckpoint()
    val edges = GraphAnnQueries.edgesDf(spark, sf).localCheckpoint()
    Seq(1, 4, 8).foreach { beam =>
      val entry = scored.filter(col("vec_id") % GraphAnnQueries.EntryStride === 0)
        .orderBy(col("cos_e6").desc, col("vec_id").asc).limit(beam)
        .select("vec_id").as[Long].collect().toSet
      val visited = GraphAnnQueries.walkDf(edges, scored, beam)
        .select("vec_id").as[Long].collect().toSet
      assert(entry.subsetOf(visited), s"beam=$beam")
      // bounded expansion: entry + at most Hops * beam * 2M arrivals
      val cap = beam + GraphAnnQueries.Hops * beam * 2 * GraphAnnQueries.M
      assert(visited.size <= cap, s"beam=$beam visited=${visited.size} cap=$cap")
    }
  }

  test("neighbor table honors the 2M degree cap and is symmetric-input pruned") {
    import spark.implicits._
    val maxDeg = GraphAnnQueries.edgesDf(spark, sf)
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .agg(max("deg")).as[Long].head()
    assert(maxDeg <= 2 * GraphAnnQueries.M)
  }

  test("maintenance invariants: merged graph only grows, overlap bounded") {
    val row = GraphAnnQueries.hnswMaintain(spark, sf, bits = 8).collect().head
    val corpus = row.getAs[Long]("n_corpus_edges")
    val maintained = row.getAs[Long]("n_maintained")
    val rebuilt = row.getAs[Long]("n_rebuild")
    val common = row.getAs[Long]("n_common")
    val newOut = row.getAs[Long]("n_new_out")
    assert(newOut > 0, "batch insert found no edges — fixture degenerate")
    // per-src prune keeps at least what the corpus graph already had
    assert(maintained >= corpus)
    assert(common <= math.min(maintained, rebuilt))
    // the incremental graph can't contain MORE edges than merged input
    assert(maintained <= corpus + 2 * newOut)
  }

  test("every hop's frontier expansion plans as a broadcast join") {
    // the ≤beam-row frontier is explicitly broadcast against the edge
    // table each hop — an SMJ here would shuffle the whole edge table
    // per hop at 100 TB
    val scored = GraphAnnQueries.scoredDf(spark, sf).localCheckpoint()
    val edges = GraphAnnQueries.edgesDf(spark, sf).localCheckpoint()
    val walk = GraphAnnQueries.walkDf(edges, scored, GraphAnnQueries.Beam)
    val bc = walk.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bc.size >= GraphAnnQueries.Hops,
      s"expected ≥${GraphAnnQueries.Hops} broadcast hop joins, got ${bc.size}")
  }

  test("probed walk equals the in-memory walk and prunes hop scans to frontier buckets") {
    import spark.implicits._
    // same answer through the persisted layout
    val probed = GraphAnnQueries.hnswProbedTopk(spark, sf)
      .select("vec_id", "cos_e6", "n_visited")
      .as[(Long, Long, Long)].collect().toSeq
    val walked = GraphAnnQueries.hnswTopk(spark, sf, bits = 8)
      .select("vec_id", "cos_e6", "n_visited")
      .as[(Long, Long, Long)].collect().toSeq
    assert(probed == walked)
    // the hop read prunes: an isin on the partition column selects only
    // those partition dirs (the table was just built by hnswProbedTopk)
    val path = PipelineShared.statePath("hnswidx_sf0.001")
    val hopRead = graft.operators.TableMerge.read(spark, path)
      .filter(org.apache.spark.sql.functions.col("ebucket").isin(3L, 7L))
    val scans = hopRead.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount <= 2,
      s"pruning left ${scans.head.selectedPartitions.partitionCount} partitions")
  }

  test("ef sweep: wider beam never visits fewer nodes at equal graph") {
    val scored = GraphAnnQueries.scoredDf(spark, sf).localCheckpoint()
    val edges = GraphAnnQueries.edgesDf(spark, sf).localCheckpoint()
    val sizes = Seq(4, 8, 16).map { beam =>
      GraphAnnQueries.walkDf(edges, scored, beam).count()
    }
    assert(sizes == sizes.sorted,
      s"visited-set sizes not monotone in beam: $sizes")
  }
}
