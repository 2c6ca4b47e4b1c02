package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector algebra over `ArrayType(Float/Double)` columns built entirely
  * from Spark higher-order functions (`zip_with` + `aggregate`): the
  * reference composition the native `graft_cosine` kernel must equal
  * bitwise (CosineSimilaritySpec). Semantics mirror the reference's
  * cosine use: normalized dot product (`elasticsearch_sync.py:327-333`
  * dense_vector cosine; `semantic_matcher.py:111-216`). Folds are
  * sequential left-to-right, matching DuckDB's list reductions.
  */
object VectorFunctions {

  /** Elementwise cast to double so accumulation happens in f64. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product of two equal-length vectors. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity: dot / (|a| * |b|). Callers cast to double first
    * (`toDouble`) so this matches a DuckDB `::DOUBLE[]` oracle bitwise.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

}
