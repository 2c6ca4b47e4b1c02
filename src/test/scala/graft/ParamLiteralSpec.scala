package graft

import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime}
import java.util.Objects

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, LessThan, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableMerge
import graft.plans.ParamLiteral

/** [[ParamLiteral]] and the rule that puts filter constants into it:
  * values, rendering and equality match `Literal`, and the rule leaves
  * the file scans' filters alone. The compile counts it exists for are
  * pinned in `CodegenCacheSpec`. */
class ParamLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  /** Not lazy: the session must exist before this suite first generates
    * code, because Spark sizes its JVM-wide codegen cache from the conf in
    * force when its code generator first loads (see
    * `GraftSession.CodegenCacheEntries`). */
  private val spark = SparkTestBase.spark

  /** One literal of each rewritten type, edge values included. */
  private val cases: Seq[Literal] = Seq(
    Literal(true), Literal(7.toByte), Literal(Short.MinValue), Literal(Int.MaxValue),
    Literal(Long.MinValue), Literal(Float.NaN), Literal(-0.0f), Literal(Double.NaN),
    Literal(-0.0d), Literal(1.5e300),
    Literal(LocalDate.of(1, 1, 1)),
    Literal(Instant.parse("2024-02-29T23:59:59.123456Z")),
    Literal(LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000)))

  test("codegen and interpreted evaluation agree with Literal on edge values") {
    cases.foreach { lit =>
      val p = ParamLiteral(lit.value, lit.dataType)
      def exprs(e: Expression): Seq[Expression] = Seq(e, EqualTo(e, lit), LessThan(e, lit))
      val Seq(gen, genLit) = Seq(p, lit).map(e =>
        GenerateUnsafeProjection.generate(exprs(e)).apply(InternalRow.empty))
      val interpreted = exprs(p).map(_.eval(InternalRow.empty))
      // boxed equals: NaN equals NaN, and -0.0 differs from 0.0
      assert(Objects.equals(gen.get(0, lit.dataType), genLit.get(0, lit.dataType)), lit)
      assert(Objects.equals(interpreted.head, lit.value), lit)
      assert(Seq(gen.getBoolean(1), gen.getBoolean(2)) == Seq(true, false), lit)
      assert(interpreted.tail == Seq(true, false), lit)
    }
  }

  test("a new value of the same type reuses the compiled projection") {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    GenerateUnsafeProjection.generate(Seq(ParamLiteral(1L, LongType)))
    val before = compiles.getCount
    assert(GenerateUnsafeProjection.generate(Seq(ParamLiteral(2L, LongType)))
      .apply(InternalRow.empty).getLong(0) == 2L)
    assert(compiles.getCount == before)
  }

  test("toString and sql render exactly like Literal; equality includes the value") {
    cases.foreach { lit =>
      val p = ParamLiteral(lit.value, lit.dataType)
      assert(p.toString == lit.toString)
      assert(p.sql == lit.sql)
      assert(p == ParamLiteral(lit.value, lit.dataType) && p.hashCode == lit.hashCode)
    }
    assert(ParamLiteral(1L, LongType) != ParamLiteral(2L, LongType))
    assert(ParamLiteral(1, IntegerType) != ParamLiteral(1, DateType))
  }

  private def withTable(rows: Seq[(Long, Long)])(body: String => Unit): Unit = {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-params").resolve("t").toString
    TableMerge.createOrReplace(rows.toDF("id", "k"), path)
    body(s"graft.`$path`")
  }

  test("scans keep their Literal filters; the filter above them reads ParamLiterals") {
    withTable((0L until 100L).map(i => (i, i % 10))) { ref =>
      val df = spark.sql(s"SELECT id FROM $ref WHERE k BETWEEN 3 AND 4")
      assert(df.collect().length == 20)
      val plan = df.queryExecution.executedPlan
      val scans = collect(plan) { case s: FileSourceScanExec => s }
      val filters = collect(plan) { case f: FilterExec => f }
      assert(scans.nonEmpty && filters.nonEmpty)
      assert(scans.flatMap(_.dataFilters).exists(_.exists(_.isInstanceOf[Literal])))
      assert(scans.flatMap(_.dataFilters).forall(!_.exists(_.isInstanceOf[ParamLiteral])))
      assert(filters.forall(f => !f.condition.exists(_.isInstanceOf[Literal]) &&
        f.condition.exists(_.isInstanceOf[ParamLiteral])))
    }
  }

  test("two filters differing only in a constant stay distinct in one plan, with and without AQE") {
    // k = i % 20 with i < 210: keys 0..9 appear 11 times, keys 10..19 ten times
    val rows = (0L until 210L).map(i => (i, i % 20))
    withTable(rows) { ref =>
      // the filter sits on an aggregate's output, above the shared scan:
      // the two outer exchanges differ only in the filter's constant
      def branch(c: Long) = s"SELECT ${c}L AS c, n, count(*) AS keys FROM (" +
        s"SELECT k, count(*) AS n FROM $ref GROUP BY k) WHERE n >= $c GROUP BY n"
      val counts = rows.groupBy(_._2).values.map(_.size.toLong).toSeq
      def expected(c: Long) = counts.filter(_ >= c).groupBy(identity).toSeq
        .map { case (n, ks) => (c, n, ks.size.toLong) }
      val want = (expected(10L) ++ expected(11L)).sorted
      assert(expected(11L).nonEmpty && expected(10L).size == 2)
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      try Seq("true", "false").foreach { on =>
        spark.conf.set("spark.sql.adaptive.enabled", on)
        val got = spark.sql(s"${branch(10L)} UNION ALL ${branch(11L)}").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
        assert(got == want, s"adaptive=$on")
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }
}
