package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.HllSketch

/** HLL sketch family (graft_hll_agg / graft_hll_merge / graft_hll_est)
  * — the mergeable distinct counter behind `agg_hll_distinct`. Under
  * test: accuracy across cardinality regimes (linear-counting AND raw
  * HLL), partitioning-independent sketch bytes, the PERSISTED-sketch
  * roundtrip (write daily sketches to parquet, read back, merge —
  * identical estimate to one direct pass), null/empty handling, and
  * the mixed-width hard error.
  */
class HllSketchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val P = 12

  private def directEstimate(keys: Seq[Long]): Long = {
    val regs = new Array[Byte](HllSketch.numRegisters(P))
    keys.foreach(HllSketch.add(regs, P, _))
    HllSketch.estimatePacked(HllSketch.pack(regs, P))
  }

  test("estimate lands within 5% across cardinality regimes") {
    for (n <- Seq(100, 1000, 10000, 200000)) {
      val est = directEstimate((0 until n).map(i => i * 2654435761L + 17L))
      val err = math.abs(est - n).toDouble / n
      assert(err < 0.05, s"n=$n est=$est err=$err")
    }
  }

  test("duplicate keys do not move the estimate") {
    val keys = (0L until 5000L).map(_ * 31L + 7L)
    assert(directEstimate(keys) == directEstimate(keys ++ keys ++ keys.take(100)))
  }

  test("sketch bytes are partitioning-independent") {
    import spark.implicits._
    def sketchOf(parts: Int): Array[Byte] =
      (0L until 20000L).map(i => i * 7919L - 3L).toDF("k").repartition(parts)
        .agg(expr(s"graft_hll_agg(k, $P)"))
        .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sketchOf(1), sketchOf(13)))
  }

  test("persisted daily sketches merge to the direct global estimate") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("hll-roundtrip").toString
    // 30 "days" with overlapping key ranges — the rollup must dedup
    // across days, which per-day exact counts cannot
    val daily = (0 until 30).flatMap { day =>
      (0 until 2000).map(i => (day, (day * 1000 + i).toLong * 104729L))
    }.toDF("day", "k")
    daily.groupBy("day").agg(expr(s"graft_hll_agg(k, $P)").as("sketch"))
      .write.mode("overwrite").parquet(path)
    val rolled = spark.read.parquet(path)
      .agg(expr("graft_hll_est(graft_hll_merge(sketch))"))
      .head().getLong(0)
    val direct = daily.agg(expr(s"graft_hll_est(graft_hll_agg(k, $P))"))
      .head().getLong(0)
    assert(rolled == direct,
      s"rollup over persisted sketches ($rolled) != direct pass ($direct)")
    val nDistinct = daily.select("k").distinct().count()
    assert(math.abs(rolled - nDistinct).toDouble / nDistinct < 0.05)
  }

  test("merging a sketch with itself is a no-op (idempotent max)") {
    import spark.implicits._
    val one = (0L until 1000L).map(_ * 13L).toDF("k")
      .agg(expr(s"graft_hll_agg(k, $P)").as("s"))
    val doubled = one.union(one)
      .agg(expr("graft_hll_merge(s)"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(doubled, one.head().getAs[Array[Byte]](0)))
  }

  test("NULL keys are skipped; an all-NULL or empty group estimates 0") {
    import spark.implicits._
    val withNulls = Seq[Option[Long]](Some(1L), None, Some(2L), None).toDF("k")
      .agg(expr(s"graft_hll_est(graft_hll_agg(k, $P))")).head().getLong(0)
    assert(withNulls == 2L)
    val allNull = Seq[Option[Long]](None, None).toDF("k")
      .agg(expr(s"graft_hll_est(graft_hll_agg(k, $P))")).head().getLong(0)
    assert(allNull == 0L)
    // merge over zero sketches → empty sketch → estimate 0
    val emptyMerge = Seq(Array.emptyByteArray).toDF("s").filter(lit(false))
      .agg(expr("graft_hll_est(graft_hll_merge(s))")).head().getLong(0)
    assert(emptyMerge == 0L)
  }

  test("mixed sketch widths are a hard error, not a silent resize") {
    import spark.implicits._
    val s10 = Seq(1L).toDF("k").agg(expr("graft_hll_agg(k, 10)"))
      .head().getAs[Array[Byte]](0)
    val s12 = Seq(1L).toDF("k").agg(expr("graft_hll_agg(k, 12)"))
      .head().getAs[Array[Byte]](0)
    val ex = intercept[Exception] {
      Seq(s10, s12).toDF("s").repartition(1)
        .agg(expr("graft_hll_merge(s)")).head()
    }
    assert(ex.getMessage != null)
  }
}
