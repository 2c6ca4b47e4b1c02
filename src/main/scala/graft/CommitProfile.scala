package graft

import org.apache.spark.sql.functions._
import graft.Measure.{num, obj, str}
import graft.operators.TableMerge

/** Per-stage adjudication of the k20_stats_merge commit chain (VERDICT
  * r19 finding #1: +1.0 s in both bench channels after r19 added
  * manifest maintenance + per-file null counts to every commit).
  *
  * Times each stage of the chain separately — drop / CTAS / ZORDER /
  * scoped MERGE / the two reads — twice: once with stat columns
  * declared (the k20 shape: every commit after the ZORDER collects
  * fresh per-file ranges + null counts for its staged files) and once
  * without (no declared stat columns ⇒ `freshStatsFor` is a no-op, so
  * the merge pays only manifest carry + the data write). The
  * merge-stage delta between the two runs IS the per-commit sidecar
  * cost; comparing it across sf args shows whether it amortizes under
  * data-write cost as files grow (the 100 TB claim: sidecar rows are
  * O(files touched × stat cols), data writes are O(bytes)).
  *
  * Args: sfDir [reps=3]. Prints one JSON line per variant with
  * min-of-reps per-stage seconds.
  */
object CommitProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local("graft-commit-profile")
    Measure.warm(spark)

    def chain(withStats: Boolean): Map[String, Double] = {
      val path = new java.io.File(
        s"target/graft-state/k20_profile_${if (withStats) "stats" else "nostats"}")
        .getAbsolutePath
      val stages = scala.collection.mutable.LinkedHashMap[String, Double]()
      def stage[A](name: String)(body: => A): A = {
        val (r, sec) = Measure.time(body)
        if (stages.get(name).forall(sec < _)) stages(name) = sec
        r
      }
      // each rep starts from a clean slate; its stages are timed bare
      for (_ <- 1 to reps) Measure.sample(spark) {
        stage("drop") { TableMerge.drop(path, ifExists = true) }
        Tables.events(spark, sfDir)
          .selectExpr("event_id", "user_id", "event_type",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2")
          .createOrReplaceTempView("k20p_events")
        stage("ctas") {
          spark.sql(s"CREATE TABLE graft.`$path` PARTITIONED BY (event_type) " +
            "AS SELECT * FROM k20p_events")
        }
        stage("zorder") {
          if (withStats)
            spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (user_id, value_e2)")
          else
            spark.sql(s"OPTIMIZE graft.`$path`") // compaction, no stat columns
        }
        val src = Tables.events(spark, sfDir)
          .filter(col("event_type") === "click" && col("user_id").between(100L, 200L))
          .selectExpr("event_id", "user_id", "event_type",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) * 2 AS value_e2")
        stage("merge") {
          TableMerge.upsert(spark, path, src, keys = Seq("event_type", "event_id"),
            partitionCols = Seq("event_type"))
        }
        stage("read_auto") {
          TableMerge.read(spark, path)
            .filter(col("user_id").between(100L, 400L))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("value_e2").as("s"))
            .collect()
        }
        stage("read_explicit") {
          TableMerge.readSkipping(spark, path, "user_id", 100L, 400L)
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("value_e2").as("s"))
            .collect()
        }
      }
      stages.toMap
    }

    val withStats = chain(withStats = true)
    val noStats = chain(withStats = false)
    def js(m: Map[String, Double]): String = obj(m.map { case (k, v) => k -> num(v) })
    println(obj(Seq("metric" -> str("k20_stage_profile"), "sf" -> str(sfDir),
      "reps" -> reps.toString, "with_stats" -> js(withStats), "no_stats" -> js(noStats),
      "merge_sidecar_delta_sec" -> num(withStats("merge") - noStats("merge")))))
    spark.stop()
  }
}
