package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ChangeDetector, SkewSalt}

/** ChangeDetector (I1-I3) and SkewSalt library specs. */
class OperatorsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("ChangeDetector.classify covers new/newer/changed/unchanged") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val existing = Seq(
      ("a", "fp1", ts("2026-01-01 00:00:00")),
      ("b", "fp2", ts("2026-01-01 00:00:00")),
      ("c", "fp3", ts("2026-01-01 00:00:00")))
      .toDF("id", "fp", "ts")
    val batch = Seq(
      ("a", "fp1", ts("2026-01-01 00:00:00")), // unchanged
      ("b", "fp2", ts("2026-02-01 00:00:00")), // newer
      ("c", "fpX", ts("2026-01-01 00:00:00")), // changed
      ("d", "fp4", ts("2026-01-01 00:00:00"))) // new
      .toDF("id", "fp", "ts")
    val got = ChangeDetector.classify(batch, existing, Seq("id"), "fp", "ts")
      .select("id", "change_kind").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "unchanged", "b" -> "newer", "c" -> "changed", "d" -> "new"))
    assert(ChangeDetector.changedOnly(batch, existing, Seq("id"), "fp", "ts")
      .count() == 3)
  }

  test("ChangeDetector.classify: NULL batch fingerprint vs stored one is a change") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val existing = Seq(("a", "fp1", ts("2026-01-01 00:00:00"))).toDF("id", "fp", "ts")
    val batch = Seq(("a", null.asInstanceOf[String], ts("2026-01-01 00:00:00")))
      .toDF("id", "fp", "ts")
    val kind = ChangeDetector.classify(batch, existing, Seq("id"), "fp", "ts")
      .select("change_kind").as[String].head()
    assert(kind == "changed") // =!= would have nulled through to unchanged
  }

  test("ChangeDetector.tombstones finds deleted keys") {
    import spark.implicits._
    val existing = Seq("a", "b", "c").toDF("id")
    val current = Seq("a", "c").toDF("id")
    assert(ChangeDetector.tombstones(existing, current, Seq("id"))
      .as[String].collect().toSeq == Seq("b"))
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val big = (1 to 500).map(i => (if (i <= 450) "hot" else "cold", i.toLong)).toDF("key", "row_id")
    val dim = Seq(("hot", "H"), ("cold", "C")).toDF("key", "label")
    val plain = big.join(dim, Seq("key")).groupBy("label").count()
      .as[(String, Long)].collect().toMap
    val salted = SkewSalt.withSalt(big, 4, Seq("row_id"))
      .join(SkewSalt.replicateForSalt(dim, 4), Seq("key", "__salt"))
      .groupBy("label").count().as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("approximate aggregates hold their error bounds vs exact (HLL, quantiles)") {
    // the sketch tier for 100 TB interactive profiling: HLL++ distinct
    // counts (mergeable, fixed memory per group) and t-digest-style
    // approx quantiles — not oracle-hashable (estimates), so the error
    // CONTRACT is what gets pinned
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.01"
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val exact = ev.select(countDistinct("user_id")).head().getLong(0)
    val approx2 = ev.select(approx_count_distinct("user_id", rsd = 0.02)).head().getLong(0)
    assert(math.abs(approx2 - exact).toDouble / exact <= 0.06,
      s"HLL rsd=0.02 off by ${math.abs(approx2 - exact).toDouble / exact}")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val Array(q50, q99) = orders.stat.approxQuantile("o_totalprice", Array(0.5, 0.99), 0.01)
    val n = orders.count()
    def rankOf(v: Double): Double =
      orders.filter(col("o_totalprice") <= v).count().toDouble / n
    assert(math.abs(rankOf(q50) - 0.5) <= 0.02, s"q50 rank ${rankOf(q50)}")
    assert(math.abs(rankOf(q99) - 0.99) <= 0.02, s"q99 rank ${rankOf(q99)}")
  }

  test("QualityChecks.run emits the quality_log row shape with a MAP details column") {
    import spark.implicits._
    import graft.operators.QualityChecks
    import graft.operators.QualityChecks.Check
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val t = Seq((1L, "ok"), (2L, "ok"), (3L, null.asInstanceOf[String]), (4L, "ok"))
      .toDF("id", "status")
    val log = QualityChecks.run(t, "t", Seq(
      Check("status_notnull", "completeness", col("status").isNotNull),
      Check("id_positive", "range", col("id") > 0)), ts)
    // reference schema: details is a real MAP<STRING,STRING> (create_schema.py:403)
    assert(log.schema("details").dataType ==
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType, valueContainsNull = true))
    val rows = log.select("check_id", "check_result", "passed_count", "failed_count")
      .as[(String, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rows("status_notnull") == (("failed", 3L, 1L)))
    assert(rows("id_positive") == (("passed", 4L, 0L)))
    val details = log.filter(col("check_id") === "status_notnull")
      .select("details").as[Map[String, String]].head()
    assert(details == Map("pass_rate_bp" -> "7500", "rows_checked" -> "4"))
  }

  test("QualityChecks.run on an empty table: vacuous pass, no divide-by-zero") {
    import spark.implicits._
    import graft.operators.QualityChecks
    import graft.operators.QualityChecks.Check
    val empty = Seq.empty[(Long, String)].toDF("id", "status")
    val log = QualityChecks.run(empty, "t", Seq(
      Check("c", "completeness", col("status").isNotNull)),
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    val row = log.select("check_result", "passed_count", "failed_count")
      .as[(String, Long, Long)].head()
    assert(row == (("passed", 0L, 0L)))
    assert(log.select("details").as[Map[String, String]].head()("rows_checked") == "0")
  }
}
