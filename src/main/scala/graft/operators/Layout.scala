package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-side data layout for multi-dimensional skipping — the
  * OPTIMIZE ZORDER BY analogue for plain-parquet tables. `zValue`
  * interleaves the low bits of two dimension columns; writing sorted by
  * that key makes every output file cover a BOUNDED rectangle in
  * (x, y) space, so parquet min/max footer stats prune scans filtered
  * on EITHER dimension. A single-column sort gives perfect x-locality
  * but leaves y unbounded per file — `LayoutSpec` measures exactly that
  * trade on real data.
  *
  * Scale shape: one range exchange on z (sampling against the z value,
  * which needs no pre-computed bounds) + a within-partition sort —
  * identical cost to any global-sorted write; the skipping benefit is
  * collected by every subsequent scan. The battery twin
  * (`layout_zorder`) hash-pins the z arithmetic against DuckDB.
  */
object Layout {

  /** Bit-interleaved z-order key of two non-negative dimensions
    * (low `bits` bits each; callers bucket/clamp first — the battery
    * uses `% 65536` with bits=16). Straight-line integer arithmetic,
    * whole-stage-codegen friendly. */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1)
    }.reduce(_ + _)

  /** Map a dimension onto the `bits`-bit grid by min-max scaling.
    * Interleaving only balances dimensions of EQUAL bit-scale: a
    * dimension spanning 8 significant bits interleaved raw against one
    * spanning 12 contributes zeros in its high bits, and the z-sort
    * degenerates to a single-column sort on the wider one (measured —
    * LayoutSpec fails without this). Production systems range-bucket
    * to the grid the same way (exact min/max here; approxQuantile
    * boundaries de-skew at scale). */
  private def gridded(c: Column, lo: Long, hi: Long, bits: Int): Column =
    // scale in DOUBLE space: (c - lo) * 2^bits overflows long once the
    // dimension range exceeds ~2^(63-bits) (epoch-nanos columns do);
    // long→double conversion is monotone, so grid cells stay ordered
    // even where doubles lose exactness
    least(lit((1L << bits) - 1), greatest(lit(0L),
      floor((c.cast("double") - lo.toDouble) * (1L << bits).toDouble /
        (hi.toDouble - lo.toDouble + 1.0)).cast("long")))

  /** `df` z-ordered on (`xCol`, `yCol`) as `numFiles` contiguous
    * z-slices: normalize both dims to a common grid, range-partition on
    * the interleaved z, sort within each slice, drop the key. Written
    * out, each file's parquet min/max stats then span a bounded
    * rectangle set in (x, y) — the file-level data-skipping layout. */
  def zOrdered(df: DataFrame, xCol: String, yCol: String,
               numFiles: Int, bits: Int = 16): DataFrame = {
    val r = df.agg(min(col(xCol).cast("long")), max(col(xCol).cast("long")),
      min(col(yCol).cast("long")), max(col(yCol).cast("long"))).head()
    // zero-row frame: bounds are NULL; any grid works for an empty write
    val (xlo, xhi) = if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    val (ylo, yhi) = if (r.isNullAt(2)) (0L, 0L) else (r.getLong(2), r.getLong(3))
    df.withColumn("__z", zValue(
        gridded(col(xCol).cast("long"), xlo, xhi, bits),
        gridded(col(yCol).cast("long"), ylo, yhi, bits), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Write an embeddings frame BUCKETED by its IVF coarse-centroid
    * assignment — the storage layout that turns the ANN probe filter
    * into partition pruning: a query that probes `nprobe` of `nlist`
    * centroids lists and reads only those partition directories, i.e.
    * nprobe/nlist of the corpus, before a single row is decoded.
    * This is the materialized form of the `sim_ivf_topk` plan note
    * ("at 100 TB the corpus is WRITTEN bucketed by centroid_id"), kept
    * as a graft table partitioned by `centroid_id`, so a probe is
    * partition pruning over its manifest. */
  def writeIvfBucketed(embeddings: DataFrame, path: String, nlist: Int): Unit =
    TableMerge.createOrReplace(embeddings
      .selectExpr("vec_id", "embedding",
        s"graft_ivf_assign(embedding, $nlist) AS centroid_id"), path, Seq("centroid_id"))

  /** Probed ANN top-k over an IVF-bucketed layout: the centroid filter
    * resolves to partition pruning over the table's manifest (LayoutSpec
    * measures scanned files), then native cosine + top-k run on the
    * nprobe partitions alone. Same fixed query vector (0.1·1⃗) and
    * output contract as `sim_ivf_topk`, so the same oracle verifies both
    * physical paths. */
  def ivfProbedTopk(spark: org.apache.spark.sql.SparkSession, path: String,
                    probes: Seq[Int], k: Int): DataFrame = {
    TableMerge.read(spark, path)
      .filter(col("centroid_id").isin(probes: _*))
      .selectExpr("vec_id", "CAST(centroid_id AS INT) AS centroid_id",
        "CAST(floor(graft_cosine(embedding, array_repeat(CAST(0.1 AS DOUBLE), 64)) " +
          "* 1000000) AS BIGINT) AS cos_e6")
      .orderBy(col("cos_e6").desc, col("vec_id").asc)
      .limit(k)
  }
}
