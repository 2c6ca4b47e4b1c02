package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.MinHashTuner
import graft.queries.PipelineShared._

/** Band-shape CENSUS for the MinHash dedup tier (VERDICT r10 #6) — the
  * measured S-curve trade of [[graft.operators.MinHashTuner]]'s band
  * rows, pinned as an oracle row per feasible shape of the
  * 4-permutation signature: r=1/b=4 (max recall, max candidates),
  * r=2/b=2 (the shipped dedup-tier shape), r=4/b=1 (most selective).
  * Buckets are counted over the SAME banded values the candidate join
  * shuffles on, so cand_pairs is exactly the join's pre-distinct
  * output size — the number a tuner would bound before committing to
  * the join. LshTunerSpec checks the volume is monotone in r.
  *
  * Scale: one groupBy per shape over (band_idx, band_val) — partial
  * aggregation, compact integer keys, no pairs materialized anywhere.
  */
private[graft] object TunerQueries {

  private val Shapes = Seq((1, 4), (2, 2), (4, 1))

  /** Same corpus as `dedup_minhash_pairs`: documents + injected
    * near-dups (doc_id%20==0, first token dropped, id+100000). */
  private[queries] def shingledCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
    val dups = docs.filter(col("doc_id") % 20 === 0)
      .selectExpr("doc_id + 100000 AS doc_id",
        "slice(tokens, 2, size(tokens) - 1) AS tokens")
    docs.union(dups).filter(size(col("tokens")) >= 3)
      .selectExpr("doc_id", "graft_shingle_set(graft_word_fps(tokens)) AS shset")
  }

  private val dedupBandCensus: Q = (s, d) => {
    val spec = DedupQueries.MinhashPairParams.map { case (a, b) => s"$a,$b" }.mkString(";")
    val sh = shingledCorpus(s, d)
    Shapes.map { case (r, b) =>
      MinHashTuner.bandRows(sh, spec, r, b)
        .groupBy("band_idx", "band_val").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("cand_pairs"),
          coalesce(max("n"), lit(0L)).as("max_bucket"),
          coalesce(sum(col("n")), lit(0L)).as("n_band_rows"))
        .select(lit(r.toLong).as("r"), lit(b.toLong).as("b"),
          (col("n_band_rows") / lit(b)).cast("long").as("n_docs"),
          col("cand_pairs"), col("max_bucket"))
    }.reduce(_.unionByName(_)).orderBy("r")
  }

  val queries: Seq[(String, Q)] = Seq(
    "dedup_band_census" -> dedupBandCensus,
  )

  /** DuckDB band value of rows j·r+1 … j·r+r (1-based minh columns) —
    * mirrors MinHashTuner.bandValExpr's mod-each-step *31 fold. */
  private def duckBandVal(j: Int, r: Int): String =
    (1 until r).foldLeft(s"minh${j * r + 1}") { (acc, t) =>
      s"(($acc) * 31 + minh${j * r + t + 1}) % $P"
    }

  val oracles: Map[String, String] = Map(
    "dedup_band_census" -> {
      val duckMinh = DedupQueries.MinhashPairParams.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(shset, x -> ($a * x + $b) % $P)) AS minh${i + 1}"
      }
      val perShape = Shapes.map { case (r, b) =>
        val bandUnion = (0 until b).map(j =>
          s"SELECT doc_id, $j AS band_idx, ${duckBandVal(j, r)} AS band_val FROM sigs")
          .mkString("\n      UNION ALL ")
        s"""SELECT CAST($r AS BIGINT) AS r, CAST($b AS BIGINT) AS b,
           |  CAST(coalesce(sum(n), 0) / $b AS BIGINT) AS n_docs,
           |  CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS cand_pairs,
           |  CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket
           |FROM (SELECT band_idx, band_val, count(*) AS n
           |      FROM ($bandUnion) b$r$b GROUP BY 1, 2) h$r$b""".stripMargin
      }
      s"""WITH docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, tokens[2:] AS tokens
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
         |  WHERE doc_id % 20 = 0),
         |wf AS (
         |  SELECT doc_id, list_transform(tokens, w -> ${duckFp("w")}) AS wfps
         |  FROM docs WHERE len(tokens) >= 3),
         |shingled AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(wfps) - 2),
         |    i -> (wfps[i] * 961 + wfps[i + 1] * 31 + wfps[i + 2]) % $P)) AS shset
         |  FROM wf),
         |sigs AS (
         |  SELECT doc_id, ${duckMinh.mkString(", ")} FROM shingled)
         |SELECT * FROM (
         |  ${perShape.mkString("\n  UNION ALL\n  ")}) u
         |ORDER BY r""".stripMargin
    },
  )
}
