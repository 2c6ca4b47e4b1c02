package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Layout, TableMerge}

/** The z-order layout's skipping property, measured on real data: files
  * from a z-sorted write cover bounded rectangles in BOTH dimensions,
  * where a single-column sort leaves the second dimension's per-file
  * extent near the full range (no pruning possible on it).
  */
class LayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("z-ordered files bound both dimensions; x-sorted files leave y unbounded") {
    val dims = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .selectExpr("CAST(o_custkey % 65536 AS BIGINT) AS x",
        "CAST(datediff(o_orderdate, DATE '1992-01-01') % 65536 AS BIGINT) AS y")
    val base = Files.createTempDirectory("graft-layout")
    val zdir = base.resolve("zorder").toString
    val ldir = base.resolve("linear").toString
    Layout.zOrdered(dims, "x", "y", numFiles = 8).write.mode("overwrite").parquet(zdir)
    dims.repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(ldir)

    def avgExtents(dir: String): (Double, Double) = {
      val r = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
        .agg(avg("xr"), avg("yr")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val (zx, zy) = avgExtents(zdir)
    val (lx, ly) = avgExtents(ldir)
    val fullY = ly // x-sorted files see ~the full y range per file
    assert(zy < 0.75 * fullY,
      s"z-order did not bound y: avg y-extent $zy vs linear $fullY")
    // the x trade: z files give up some x-locality but must stay far
    // from unbounded (a random layout would cover ~the full x range)
    val r = dims.agg(max("x") - min("x")).head()
    val fullX = r.getLong(0).toDouble
    assert(zx < 0.9 * fullX, s"z-order x-extent $zx ~ unbounded ($fullX)")
    assert(lx < zx, "sanity: single-column sort should have the best x-locality")
  }

  test("hilbert curve walks the full grid in unit steps; z-order jumps") {
    // the published locality law the clustering key buys: CONSECUTIVE
    // Hilbert positions are spatially ADJACENT (Manhattan distance
    // exactly 1 — a range scan along the curve never leaves its
    // neighborhood), while the z curve takes long jumps (worst case
    // crossing half the grid). Verified exhaustively over the whole
    // 256x256 grid via an equi self-join on hd+1 — no global window.
    val s = SparkTestBase.spark
    s.range(256).selectExpr("id AS x")
      .crossJoin(s.range(256).selectExpr("id AS y"))
      .createOrReplaceTempView("grid_pts")
    s.sql(s"WITH w AS (${graft.queries.CoverageQueries
        .hilbertWalkSql("grid_pts", (a, b) => s"($a ^ $b)")}) " +
      "SELECT hd, ox, oy FROM w").createOrReplaceTempView("hw")
    val maxHilbertStep = s.sql(
      """SELECT max(abs(a.ox - b.ox) + abs(a.oy - b.oy))
        |FROM hw a JOIN hw b ON a.hd + 1 = b.hd""".stripMargin)
      .head.getLong(0)
    assert(maxHilbertStep == 1L,
      s"hilbert adjacent positions must be unit steps, got $maxHilbertStep")
    // bijectivity: 65536 distinct d values on the 256x256 grid
    val nDistinct = s.sql("SELECT count(DISTINCT hd) FROM hw").head.getLong(0)
    assert(nDistinct == 65536L, s"hilbert walk not a bijection: $nDistinct")
    val zExpr = (0 until 8).map(i =>
      s"shiftleft(shiftright(x, $i) & 1, ${2 * i}) + shiftleft(shiftright(y, $i) & 1, ${2 * i + 1})")
      .mkString("(", " + ", ")")
    s.sql(s"SELECT x AS ox, y AS oy, $zExpr AS zd FROM grid_pts")
      .createOrReplaceTempView("zw")
    val maxZStep = s.sql(
      """SELECT max(abs(a.ox - b.ox) + abs(a.oy - b.oy))
        |FROM zw a JOIN zw b ON a.zd + 1 = b.zd""".stripMargin)
      .head.getLong(0)
    assert(maxZStep > 100L,
      s"expected z-order to take long jumps on the full grid, got $maxZStep")
  }

  test("IVF-bucketed layout: probe filter prunes partitions at the scan, same results") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Files.createTempDirectory("graft-ivf").resolve("emb").toString
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Layout.writeIvfBucketed(embs, dir, nlist = 16)
    val probes = Seq(0, 3, 7, 11)
    // read through the graft table: its manifest index prunes the
    // centroid_id IN (…) filter as partition pruning
    val pruned = TableMerge.read(spark, dir)
      .filter(col("centroid_id").isin(probes: _*))
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val scannedFiles = scan.metrics("numFiles").value
    val totalFiles = TableMerge.manifest(dir).get.size.toLong
    assert(scannedFiles > 0 && scannedFiles < totalFiles,
      s"expected pruning: scanned $scannedFiles of $totalFiles files")
    // partition pruning must not change WHAT is read: same vec_id set as
    // computing the assignment on the fly over the unbucketed table
    val expected = embs
      .selectExpr("vec_id", "graft_ivf_assign(embedding, 16) AS c")
      .filter(col("c").isin(probes: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = pruned.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("wide-range dimensions (epoch-nanos scale) do not overflow the grid") {
    import spark.implicits._
    // range ~1.7e18: (c - lo) * 65536 would wrap a long; the grid
    // scales in double space instead
    val wide = Seq(
      (-900000000000000000L, 1L), (0L, 500L), (900000000000000000L, 1000L))
      .toDF("x", "y")
    val dir = Files.createTempDirectory("graft-layout-wide").resolve("z").toString
    Layout.zOrdered(wide, "x", "y", numFiles = 2).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    assert(back == wide.as[(Long, Long)].collect().toSet)
  }
}
