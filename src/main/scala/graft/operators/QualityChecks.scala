package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality check runner — the engine's face of the
  * reference's quality_log table (`create_schema.py:395-410`:
  * check_id / table_name / check_type / check_result / passed_count /
  * failed_count / check_timestamp / details MAP<STRING,STRING>).
  *
  * Scale shape: ALL checks against one table fuse into a single
  * conditional aggregate over one scan (`sum(when(pred, 1))` per check
  * — partial-agg friendly, no per-check pass), and the per-check log
  * rows come from `inline` over the 1-row aggregate, so a table of any
  * size pays exactly one read no matter how many checks it carries.
  */
object QualityChecks {

  /** One named predicate check: rows satisfying `predicate` pass. */
  final case class Check(checkId: String, checkType: String, predicate: Column)

  /** Run every check against `table` in ONE aggregate pass; returns
    * quality_log-shaped rows (one per check). `details` carries the
    * audit map the reference logs: rows_checked plus the pass rate in
    * basis points (integer-exact — no float strings). */
  def run(table: DataFrame, tableName: String, checks: Seq[Check],
          checkedAt: Timestamp): DataFrame = {
    require(checks.nonEmpty, "at least one check required")
    require(checks.map(_.checkId).distinct.size == checks.size,
      "check ids must be unique (duplicate aliases are ambiguous)")
    // positional aliases for the internal aggregate columns: a checkId
    // with a dot would parse as nested-field access in col()
    val passCols = checks.zipWithIndex.map { case (c, i) =>
      // coalesce: sum over an EMPTY table is NULL, and a null
      // passed_count would poison every downstream arithmetic
      coalesce(sum(when(c.predicate, 1L).otherwise(0L)), lit(0L)).as(s"__p_$i")
    }
    val agg = table.agg(count(lit(1)).as("__n"), passCols: _*)
    val logRows = checks.zipWithIndex.map { case (c, i) =>
      val passed = col(s"__p_$i")
      val failed = col("__n") - passed
      struct(
        lit(c.checkId).as("check_id"),
        lit(tableName).as("table_name"),
        lit(c.checkType).as("check_type"),
        when(failed === 0, "passed").otherwise("failed").as("check_result"),
        passed.as("passed_count"),
        failed.as("failed_count"),
        lit(checkedAt).as("check_timestamp"),
        // ORACLE CONTRACT (qc_quality_log flattens this map to a sorted
        // 'k=v|…' string): the DuckDB side hardcodes the flattened
        // literal, so any new key must slot in LEXICOGRAPHIC order
        // there, values must stay NON-NULL (array_join silently drops a
        // null-concat entry), and keys/values must avoid '=' and '|'
        // (the flattening is not escaped).
        map(
          lit("pass_rate_bp"),
          // greatest(n,1): an EMPTY table must yield a 0-rate "passed"
          // row, not an ANSI divide-by-zero (Spark 4 default)
          floor(passed * 10000 / greatest(col("__n"), lit(1L))).cast("string"),
          lit("rows_checked"), col("__n").cast("string")
        ).as("details"))
    }
    agg.select(inline(array(logRows: _*)))
  }
}
