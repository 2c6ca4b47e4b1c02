package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run in this JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR --shapes FILE`.
  * Sets up as often as the workload asks, warms up, runs the closed loop
  * for S seconds of wall time with tracing off and, with `--trace 1`, a
  * second loop with tracing on; then checks outputs and writes
  * `result.json` (and the span and job records when traced) under DIR. */
object Main {

  final case class OpRecord(i: Int, phase: String, kind: String, latency_s: Double, rows: Long,
                            ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val out = new File(a("out"))
    Files.createDirectories(out.toPath)

    // at most 4 cores, and two cores left to the driver thread, JIT and GC
    // on a machine of 4 or fewer: on a shared 4-vCPU host the medallion ops
    // ran as fast on 2 task threads as on 3 (they are bound by fixed cost
    // per job, not by parallel work)
    val cores = math.max(1, math.min(Runtime.getRuntime.availableProcessors() - 2, 4))
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local("perfbench", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, out, new Tracer(spark.sparkContext, enabled = false))
    val wl: Workload = workload match {
      case "medallion_incremental" => new Medallion(5000, 200)
      // the TPC-H tables at 2/15 of the sf0.1 customers: see README.md
      case "lakehouse_reads" => new Reads(Shapes.load(a("shapes")), 2.0 / 15, 1000)
      case other => sys.error(s"unknown workload $other")
    }

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val heapMb = mutable.ArrayBuffer.empty[(String, Double)]
    val mem = ManagementFactory.getMemoryMXBean
    var i = 0
    // heap in use after GC at the end of each of the first 12 ops of the
    // untraced loop, the one that reports it: a fixed set of ops, two
    // rounds of reads, whatever the host's speed; the pause lets Spark's
    // cleaner drop the blocks (broadcasts, checkpoints) whose owners the
    // first collection freed, so the second collection frees them too
    def sampleHeap(phase: String, n: Int): Unit =
      if (phase == "untraced" && n <= 12) {
        System.gc(); Thread.sleep(100); System.gc()
        heapMb += phase -> mem.getHeapMemoryUsage.getUsed / 1048576.0
      }
    def failed(e: Exception) = Some(s"${e.getClass.getName}: ${e.getMessage}")
    def runOp(phase: String): Unit = {
      val t = System.nanoTime()
      val r = try ctx.tracer.op(i)(wl.op(ctx, i))
      catch { case e: Exception => OpResult("error", 0, () => failed(e)) }
      val sec = (System.nanoTime() - t) / 1e9
      val problem = try r.check() catch { case e: Exception => failed(e) }
      ops += OpRecord(i, phase, r.kind, sec, r.rows, problem.isEmpty, problem.getOrElse(""))
      if (phase == "traced")
        ctx.add("spark.storage_mem_bytes",
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble)
      wl.afterOp(ctx, i, phase)
      i += 1
    }
    // runs ops for `seconds` of wall time, their checks and heap samples
    // included, then to the end of the round
    def loop(phase: String, seconds: Double): Unit = {
      var n = 0
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while ((elapsed < seconds || n % wl.opsPerRound != 0) && elapsed < seconds * 3) {
        n += 1
        runOp(phase)
        sampleHeap(phase, n)
      }
    }

    // the warm-up ops run on the last set-up's tables, so the timed loop
    // starts warm and on tables that already hold a warm-up op's versions
    val setupS = mutable.ArrayBuffer.empty[Double]
    def setup(k: Int): String = {
      val (d, sec) = ctx.timed(wl.setup(ctx, new File(out, s"setup$k")))
      setupS += sec
      d
    }
    val digest = Gen.digest((0 until wl.setups).map(setup).iterator)
    loop("warmup", wl.warmupSeconds)
    loop("untraced", seconds)
    val clock = Map("wall_ms" -> System.currentTimeMillis(), "nano" -> System.nanoTime())
    if (trace) {
      ctx.tracer = new Tracer(spark.sparkContext, enabled = true)
      loop("traced", seconds)
      // the curation funnel and kernels, measured after the shorter traced loop
      if (workload == "medallion_incremental") new Curation(1000).probe(ctx, new File(out, "probe"))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      ctx.tracer.close()
    }
    try wl.finish(ctx)
    catch { case e: Exception => ctx.check("finish", failed(e)) }
    ops.filterNot(_.ok).foreach(o => ctx.check(s"op_${o.i}", Some(o.error)))

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "input_digest" -> digest,
      "session_s" -> sessionS, "setup_s" -> setupS, "ops" -> ops,
      "heap_mb" -> heapMb.map { case (p, mb) => Map("phase" -> p, "mb" -> mb) },
      "counters" -> ctx.layer, "info" -> ctx.info, "clock" -> clock,
      "checks" -> ctx.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
    Files.writeString(new File(out, "result.json").toPath, mapper.writeValueAsString(result))
    if (trace) {
      val tr = ctx.tracer
      val spans = tr.spans.map(s => mapper.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)))
      Files.writeString(new File(out, "spans.jsonl").toPath, spans.mkString("", "\n", "\n"))
      val jobs = tr.listener.get.jobs.values.map(j => mapper.writeValueAsString(Map(
        "job" -> j.jobId, "span" -> j.span, "call_site" -> j.callSite, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks,
        "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "input_bytes" -> j.inputBytes,
        "output_bytes" -> j.outputBytes, "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
        "peak_exec_mem_bytes" -> j.peakExecMem, "task_wait_ms" -> j.taskWaitMs)))
      Files.writeString(new File(out, "jobs.jsonl").toPath, jobs.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
