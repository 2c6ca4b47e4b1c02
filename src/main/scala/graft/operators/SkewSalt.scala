package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation by key salting (builder brief "salting for skew";
  * complements AQE's skew-join splitting, which only helps sort-merge
  * joins — salting also fixes skewed AGGREGATIONS, where one hot key
  * funnels into a single reducer).
  *
  * Pattern: two-phase aggregate — phase 1 groups on (key, salt) so the
  * hot key spreads over `buckets` reducers; phase 2 re-aggregates the
  * per-salt partials on the key alone (tiny input: `buckets` rows per
  * key). The salt is deterministic per row (`xxhash64 % buckets` over
  * the provided salt-source columns), so retries are stable — no
  * `rand()` in the plan.
  */
object SkewSalt {

  /** Add a deterministic salt column derived from `saltSource` columns
    * (use a high-cardinality row id, NOT the group key). */
  def withSalt(df: DataFrame, buckets: Int, saltSource: Seq[String],
               saltCol: String = "__salt"): DataFrame = {
    require(buckets > 0)
    df.withColumn(saltCol, pmod(xxhash64(saltSource.map(col): _*), lit(buckets)))
  }

  /** Salted broadcast-side replication for a skewed JOIN: explode the
    * (small) build side once per salt bucket so a salted probe side can
    * equi-join on (key, salt). Probe side: `withSalt(...)`; build side:
    * this. */
  def replicateForSalt(small: DataFrame, buckets: Int,
                       saltCol: String = "__salt"): DataFrame = {
    require(buckets > 0)
    small.withColumn(saltCol, explode(sequence(lit(0), lit(buckets - 1))))
      .withColumn(saltCol, col(saltCol).cast("long"))
  }
}
