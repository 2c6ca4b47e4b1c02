package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Job-level profiler for optimization rounds (guide §1): times one
  * registry query end-to-end 3 times against a warm session, printing
  * per-rep total seconds, the Spark-job count, the job-time sum, the
  * driver-side gap (total − jobsum: planning, commit filesystem work,
  * collects), the codegen compilations and their milliseconds (Spark's
  * `CodegenMetrics` and `CodeGenerator.compileTime` deltas: a warm rep
  * that still compiles is thrashing the codegen class cache), plus each
  * job's duration. This is the measurement
  * that established the r20 finding that the heavy queries at sf0.1
  * are per-job fixed-cost bound (e.g. sim_index_retrain: 39 sequential
  * jobs, none over 0.5 s).
  *
  * Args: [sfDir=/root/testdata/sf0.1] [query=sim_index_retrain]. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val d = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("sim_index_retrain")
    val spark = GraftSession.local("graft-profile")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc)); ()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val v = starts.get(je.jobId)
        if (v != null) jobs.add((je.jobId, System.nanoTime() - v._1, v._2))
      }
    })
    for (rep <- 1 to 3) {
      spark.catalog.clearCache()
      System.gc()
      jobs.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      val arr = jobs.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
      val jobSum = arr.map(_._2).sum / 1e9
      println(f"[profile] rep=$rep total=$sec%.3f njobs=${arr.length} jobsum=$jobSum%.3f " +
        f"gap=${sec - jobSum}%.3f compiles=$compiles compile_ms=$compileMs%.0f")
      arr.foreach { case (id, ns, desc) =>
        println(f"[profile]   $id%4d ${ns / 1e9}%6.3f  ${desc.take(110)}")
      }
    }
    spark.stop()
  }
}
