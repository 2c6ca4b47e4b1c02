package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** Q2/F24 vector algebra: dot/norm/cosine built from zip_with+aggregate
  * (codegen-friendly, UDF-free) and the deterministic hyperplane LSH
  * signature.
  */
class VectorFunctionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("dot, norm and cosine match hand computation") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val row = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.norm2(col("a")).as("na"),
      VectorFunctions.cosine(col("a"), col("b")).as("cos")).head()
    assert(row.getDouble(0) == 32.0)
    assert(math.abs(row.getDouble(1) - math.sqrt(14.0)) < 1e-12)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(row.getDouble(2) - expected) < 1e-12)
  }

  test("cosine of identical vectors is 1") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(0.5, -0.25, 3.0))).toDF("v")
    val c = df.select(VectorFunctions.cosine(col("v"), col("v"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("float vectors cast to double before folding") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("v")
    val d = df.select(
      VectorFunctions.dot(
        VectorFunctions.toDouble(col("v")), VectorFunctions.toDouble(col("v"))))
      .head().getDouble(0)
    assert(d == 5.0)
  }
}
