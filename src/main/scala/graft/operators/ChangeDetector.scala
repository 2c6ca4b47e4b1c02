package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** I1-I3 — reusable change-data detection (SURVEY §7.3 "custom library"):
  * the three CDC primitives the silver layer runs every batch
  * (`silver/transformer.py:1519-1558, 1661-1705`), as pure DataFrame
  * combinators. Each is one left/anti join keyed on the id — shuffles
  * only on the key columns, dims broadcast when small, AQE handles skew.
  */
object ChangeDetector {

  /** Classification column values. */
  val New = "new"
  val Newer = "newer"
  val Changed = "changed"
  val Unchanged = "unchanged"

  /** I1 — resource-level CDC: classify `batch` rows against `existing`
    * by key: missing → new; newer timestamp → newer; fingerprint drift →
    * changed; else unchanged. `existing` must expose the same key
    * columns plus `fingerprintCol` and `tsCol`. */
  def classify(batch: DataFrame, existing: DataFrame, keys: Seq[String],
               fingerprintCol: String, tsCol: String): DataFrame = {
    val ex = existing.select(
      (keys.map(col) :+ col(fingerprintCol).as("__ex_fp") :+ col(tsCol).as("__ex_ts")): _*)
    val epoch = lit("1970-01-01").cast("timestamp")
    batch.join(ex, keys, "left")
      .withColumn("change_kind",
        when(col("__ex_fp").isNull, lit(New))
          .when(coalesce(col(tsCol), epoch) > coalesce(col("__ex_ts"), epoch), lit(Newer))
          // null-safe: a batch row with a NULL fingerprint vs a stored one
          // IS a change (=!= would yield NULL and fall through to unchanged)
          .when(!(col(fingerprintCol) <=> col("__ex_fp")), lit(Changed))
          .otherwise(lit(Unchanged)))
      .drop("__ex_fp", "__ex_ts")
  }

  /** I1 filtered form — only the rows that need processing. */
  def changedOnly(batch: DataFrame, existing: DataFrame, keys: Seq[String],
                  fingerprintCol: String, tsCol: String): DataFrame =
    classify(batch, existing, keys, fingerprintCol, tsCol)
      .filter(col("change_kind") =!= Unchanged)
      .drop("change_kind")

  /** I3 — tombstones: keys present in `existing` but absent from
    * `current` (deleted upstream); feed the result to TableMerge.delete. */
  def tombstones(existing: DataFrame, current: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(current.select(keys.map(col): _*).distinct(), keys, "left_anti")
}
