package graft.operators

import org.apache.spark.sql.DataFrame

/** Band rows at any (r, b) shape of a k-permutation MinHash signature —
  * the Jaccard-space sibling of [[LshTuner]]'s census: today's dedup
  * tier runs a fixed r=2 rows × b=2 bands banding, and
  * `dedup_band_census` counts, per feasible shape, the candidate-pair
  * volume the band join would produce on the REAL corpus. The S-curve
  * (Leskovec/Rajaraman/Ullman ch. 3) says a pair at Jaccard s surfaces
  * with p = 1−(1−s^r)^b: smaller r ⇒ higher recall AND more candidates.
  * The census shuffle on (band_idx, band_val) is the exact shuffle the
  * candidate join would do, so the probe prices the join it protects.
  */
object MinHashTuner {

  private val P = 2147483647L // 31-bit Mersenne prime (dedup tier domain)

  /** Band value of rows j·r … j·r+r−1 of the signature: a *31-fold with
    * a mod at each step (≡ the dedup tier's `(sig[0]*31+sig[1]) % P`
    * for r=2, since minhash values are already < P). */
  private[graft] def bandValExpr(j: Int, r: Int): String =
    (1 until r).foldLeft(s"sig[${j * r}]") { (acc, t) =>
      s"(($acc) * 31 + sig[${j * r + t}]) % $P"
    }

  /** (doc_id, band_idx, band_val) rows of a shingled frame
    * (doc_id, shset) at shape (r, b), using the first r·b permutations
    * of `spec`. */
  def bandRows(shingled: DataFrame, spec: String, r: Int, b: Int): DataFrame = {
    val bands = (0 until b).map(j => bandValExpr(j, r)).mkString(", ")
    shingled
      .selectExpr("doc_id", s"graft_minhash(shset, '$spec') AS sig")
      .selectExpr("doc_id", s"posexplode(array($bands)) AS (band_idx, band_val)")
  }
}
