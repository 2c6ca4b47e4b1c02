package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKPerKey.TopKPerKeyExec

/** Bounded-heap top-k planner strategy: the declarative window+filter
  * shape plans into TopKPerKeyExec, results match the default window
  * execution exactly on total orderings, and non-matching shapes are
  * left to the stock planner.
  */
class TopKPerKeySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def hasTopK(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect { case t: TopKPerKeyExec => t }.nonEmpty

  private def randomDf(n: Int) = {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    (1 to n).map(_ => (rng.nextInt(12), rng.nextInt(10000), rng.nextLong()))
      .toDF("key", "score", "id")
      .repartition(7)
  }

  test("window+filter(rn<=k) plans into TopKPerKeyExec and matches WindowExec") {
    import spark.implicits._
    val df = randomDf(5000)
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id").asc)
    val topk = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    assert(hasTopK(topk))

    // stock execution for comparison: disable the strategy by using rank
    // shapes it doesn't match is fragile — instead compute expected with
    // a groupBy collect_list sort (engine-independent reference)
    val expected = df.as[(Int, Int, Long)].collect()
      .groupBy(_._1).toSeq
      .flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._2, r._3)).take(5).zipWithIndex
          .map { case ((key, score, id), i) => (key, score, id, i + 1) }
      }.sortBy(t => (t._1, t._4))
    val got = topk.select("key", "score", "id", "rn")
      .as[(Int, Int, Long, Int)].collect().toSeq.sortBy(t => (t._1, t._4))
    assert(got == expected)
  }

  test("rn === 1 (latest-wins) plans into the k=1 operator") {
    val df = randomDf(2000)
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id").asc)
    val latest = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(hasTopK(latest))
    assert(latest.count() == 12) // one row per key
  }

  test("non-matching shapes fall through to the stock planner") {
    val df = randomDf(500)
    val w = Window.partitionBy("key").orderBy(col("score").desc)
    // rank() is not row_number
    assert(!hasTopK(df.withColumn("rk", rank().over(w)).filter(col("rk") <= 3)))
    // compound predicate beyond the rank bound
    assert(!hasTopK(df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("score") > 0)))
    // no filter at all
    assert(!hasTopK(df.withColumn("rn", row_number().over(w))))
  }

  test("global top-k (empty partition spec) works") {
    import spark.implicits._
    val df = randomDf(1000)
    val w = Window.orderBy(col("score").desc, col("id").asc)
    val top3 = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    assert(hasTopK(top3))
    val expected = df.as[(Int, Int, Long)].collect()
      .sortBy(r => (-r._2, r._3)).take(3).map(_._2).toSeq
    assert(top3.orderBy("rn").select("score").as[Int].collect().toSeq == expected)
  }

  test("spill path: adversarial key cardinality matches the in-memory path") {
    import spark.implicits._
    // 4000 distinct keys in 7 partitions with a 16-key spill threshold
    // forces ~35 spill runs per partition; same keys recur across runs so
    // the merge must re-select top-k from multi-run candidates
    val rng = new scala.util.Random(47)
    val df = (1 to 20000).map(_ => (rng.nextInt(4000), rng.nextInt(10000), rng.nextLong()))
      .toDF("key", "score", "id")
      .repartition(7)
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id").asc)
    def run() = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("key", "score", "id", "rn")
      .as[(Int, Int, Long, Int)].collect().toSeq.sortBy(t => (t._1, t._4))
    assert(hasTopK(df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)))
    val inMemory = run()
    spark.conf.set(graft.plans.TopKPerKey.SpillThresholdKey, "16")
    try {
      val before = graft.plans.TopKPerKey.spillRuns.get()
      val spilled = run()
      assert(graft.plans.TopKPerKey.spillRuns.get() > before, "spill path did not run")
      assert(spilled == inMemory)
    } finally spark.conf.unset(graft.plans.TopKPerKey.SpillThresholdKey)
  }

  test("battery queries w1/o3/sample now use the operator (and stay oracle-green)") {
    assert(hasTopK(SparkEntry.queries("w1_latest_wins")(spark, "/root/testdata/sf0.001")))
    assert(hasTopK(SparkEntry.queries("o3_topk_per_group")(spark, "/root/testdata/sf0.001")))
    assert(hasTopK(SparkEntry.queries("sample_bottomk")(spark, "/root/testdata/sf0.001")))
  }
}
