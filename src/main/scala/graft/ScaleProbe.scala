package graft

import graft.Measure.num

/** Isolated-JVM timing channel for one registry query: a fresh session
  * in a fresh process carries none of a long-lived harness's session
  * state (memoized checkpoint blocks, listener backlog, old-gen
  * pressure). `Bench` and `ScaleBench` spawn it through [[Measure.probe]].
  *
  * Args: sfDir queryName [reps=2]. Each rep is a clean-slate sample.
  * Prints per rep a `[profile]` line (seconds, Spark jobs, summed job
  * seconds, driver gap, codegen compilations and their milliseconds)
  * and one line per job (id, seconds, label), then ONE JSON line for
  * the best rep: `query`, `sec`, `jobs`, `job_s`, `gap_s`, `compiles`,
  * `compile_ms`.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local("graft-probe")
    Measure.warm(spark)
    val samples = (1 to reps).map { rep =>
      val s = Measure.query(spark)(SparkEntry.queries(name)(spark, dir))
      println(f"[profile] rep=$rep total=${s.sec}%.3f njobs=${s.jobs.size} " +
        f"jobsum=${s.jobSec}%.3f gap=${s.gapSec}%.3f compiles=${s.compiles} " +
        f"compile_ms=${s.compileMs}%.0f")
      s.jobs.foreach(j => println(f"[profile]   ${j.id}%4d ${j.sec}%6.3f  ${j.label.take(110)}"))
      s
    }
    spark.stop()
    val best = samples.minBy(_.sec)
    println(Measure.obj(Seq("query" -> Measure.str(name), "sec" -> num(best.sec),
      "jobs" -> best.jobs.size.toString, "job_s" -> num(best.jobSec),
      "gap_s" -> num(best.gapSec), "compiles" -> best.compiles.toString,
      "compile_ms" -> num(best.compileMs))))
  }
}
