package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LshTuner

/** Census-based LSH band-width tuning: exact census arithmetic on a
  * hand-countable corpus, widening until the candidate-volume bound is
  * met on a spread corpus, no-op when the starting width already meets
  * it, and the honest-failure contract on an unsplittable corpus
  * (identical vectors collide at EVERY width — the tuner must report
  * the measured volume at maxBits, not pretend the bound was met).
  */
class LshTunerSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def vecs(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("census arithmetic is exact on a hand-countable corpus") {
    // three identical vectors: every band has one bucket of n=3 →
    // candPairs = bands × 3·2/2 = 6, maxBucket 3, nRows = 3 vectors × 2 bands
    val c = LshTuner.census(
      vecs(Seq(1L, 2L, 3L).map(i => (i, Seq.fill(64)(0.5)))),
      "embedding", bands = 2, bits = 4)
    assert(c == LshTuner.Census(4, 6L, 3L, 6L))
    assert(c.pairsPerRow == 1.0)
  }

  test("tuner widens from minBits until the volume bound is met") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // at 2 bits, 500 vectors land in ≤4 buckets per band — thousands of
    // pairs per row; the tuner must walk wider and actually meet the bound
    val start = LshTuner.census(corpus, "embedding", bands = 2, bits = 2)
    assert(start.pairsPerRow > 24.0)
    val tuned = LshTuner.chooseBandBits(corpus, "embedding", bands = 2,
      maxPairsPerRow = 24.0, minBits = 2, maxBits = 12, step = 2)
    assert(tuned.bits > 2 && tuned.bits <= 12)
    assert(tuned.pairsPerRow <= 24.0)
  }

  test("tuner keeps minBits when occupancy is already bounded") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val tuned = LshTuner.chooseBandBits(corpus, "embedding", bands = 2,
      maxPairsPerRow = 1e9, minBits = 8)
    assert(tuned.bits == 8)
  }

  test("unsplittable corpus: tuner reports the measured volume at maxBits") {
    // 40 exact copies never split — no width can separate identical
    // signatures, so the honest answer is maxBits + the true volume
    val corpus = vecs((1L to 40L).map(i => (i, Seq.tabulate(64)(j => (j % 7) * 0.1))))
    val tuned = LshTuner.chooseBandBits(corpus, "embedding", bands = 2,
      maxPairsPerRow = 4.0, minBits = 4, maxBits = 8, step = 2)
    assert(tuned.bits == 8)
    assert(tuned.pairsPerRow > 4.0)
    assert(tuned.candPairs == 2L * 40 * 39 / 2)
  }

  test("zero-row corpus degrades to an empty census, not an NPE") {
    val corpus = vecs(Seq.empty)
    val c = LshTuner.chooseBandBits(corpus, "embedding", bands = 2)
    assert(c.candPairs == 0L && c.nRows == 0L && c.pairsPerRow == 0.0)
  }

  // ---- MinHash band census (the Jaccard-space sibling) ----

  import graft.operators.MinHashTuner

  private val MinhashSpec = "1000003,12345;999983,54321;999979,11111;1000033,77777"
  private val Shapes = Seq((1, 4), (2, 2), (4, 1))

  private def shingledSf0001 = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
    val dups = docs.filter(col("doc_id") % 20 === 0)
      .selectExpr("doc_id + 100000 AS doc_id",
        "slice(tokens, 2, size(tokens) - 1) AS tokens")
    docs.union(dups).filter(size(col("tokens")) >= 3)
      .selectExpr("doc_id", "graft_shingle_set(graft_word_fps(tokens)) AS shset")
  }

  test("minhash census: candidate volume decreases with r (band coincidences nest)") {
    val sh = shingledSf0001.cache()
    try {
      // per shape, the `dedup_band_census` arithmetic: candidate pairs
      // (Σ n·(n−1)/2 over band buckets) and docs (band rows / b)
      val Seq(c14, c22, c41) = Shapes.map { case (r, b) =>
        val row = MinHashTuner.bandRows(sh, MinhashSpec, r, b)
          .groupBy("band_idx", "band_val").agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) DIV 2")), sum("n")).head()
        (row.getLong(0), row.getLong(1) / b)
      }
      assert(c14._2 == c22._2 && c22._2 == c41._2)
      // a band coincidence at r=2k implies one at r=k (bands refine),
      // so pre-distinct candidate volume is monotone in r
      assert(c14._1 >= c22._1 && c22._1 >= c41._1)
      assert(c41._1 > 0, "fixture degenerate: no near-dups collide at r=4")
    } finally { sh.unpersist(); () }
  }
}
