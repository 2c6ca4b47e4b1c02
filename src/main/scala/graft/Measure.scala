package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.bridge

/** The one measurement loop of the timing mains (`Bench`, `ScaleProbe`,
  * `CommitProfile`, `ScaleBench`): the JIT warm-up, the clean-slate
  * sample with its per-job record, a bare timer, interleaved min-of-N,
  * the fresh-JVM probe and the JSON renderer. */
object Measure {

  /** Warm the JIT and whole-stage codegen before anything is timed, so
    * first-use compilation does not land on the first timed item. */
  def warm(spark: SparkSession): Unit = spark.range(1000000).selectExpr("sum(id)").collect()

  /** One Spark job of a sample: its submission and end, in seconds from
    * the sample's start, and its label: `spark.job.description`, else
    * Spark's short call site. */
  final case class Job(id: Int, start: Double, end: Double, label: String) {
    def sec: Double = end - start
  }

  /** One timed run: wall seconds, the Spark jobs it ran, and its codegen
    * compilations and their milliseconds (a warm run that still
    * compiles is thrashing the codegen class cache). */
  final case class Sample(sec: Double, jobs: Seq[Job], compiles: Long, compileMs: Double) {
    /** Job seconds summed; overlapping jobs each count in full. */
    def jobSec: Double = jobs.map(_.sec).sum
    /** Wall seconds in which no job ran: planning, commit filesystem
      * work, collects. Wall minus the union of the job intervals clipped
      * to the sample, so overlapping jobs count once and it is never
      * negative. */
    def gapSec: Double = {
      var busy, reach = 0.0
      for (j <- jobs.sortBy(_.start)) {
        val end = math.min(j.end, sec)
        busy += math.max(0.0, end - math.max(j.start, reach))
        reach = math.max(reach, end)
      }
      sec - busy
    }
  }

  /** Result and wall seconds of `body`, with no cache drop or GC: for
    * timings that are warm on purpose. */
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** A clean-slate sample of `body`: cached data is dropped and a GC is
    * requested first, so an earlier run's blocks and garbage are not
    * billed to this one. */
  def sample(spark: SparkSession)(body: => Unit): Sample = {
    spark.catalog.clearCache()
    System.gc()
    val jobs = recorder(spark.sparkContext)
    jobs.open()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val originMs = System.currentTimeMillis()
    val (_, sec) = time(body)
    Sample(sec, jobs.close(originMs), CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
      (CodeGenerator.compileTime - compileNs0) / 1e6)
  }

  /** A clean-slate sample of building `df` and writing it to the noop
    * sink: the whole query runs and nothing is kept. */
  def query(spark: SparkSession)(df: => DataFrame): Sample =
    sample(spark)(df.write.mode("overwrite").format("noop").save())

  /** Best samples of [[minOfN]]; an item that threw is in `errors` only. */
  final case class Best[K](samples: collection.Map[K, Sample], errors: collection.Map[K, String]) {
    /** Best seconds per item; throws naming the items that failed. */
    def secs: collection.Map[K, Double] =
      if (errors.isEmpty) samples.view.mapValues(_.sec).toMap
      else throw new IllegalStateException(s"measured items failed: ${errors.mkString("; ")}")
  }

  /** The best of `passes` samples of each item, run interleaved (pass 1
    * over every item, then pass 2, …) so that a transient stall (a GC
    * pause, CPU contention, an earlier item's compaction) cannot poison
    * every sample of one item. An item that throws keeps its message in
    * `errors`, loses its samples and is skipped in later passes. */
  def minOfN[K](passes: Int, items: Seq[K])(run: K => Sample): Best[K] = {
    val best = mutable.LinkedHashMap[K, Sample]()
    val errors = mutable.LinkedHashMap[K, String]()
    for (_ <- 1 to passes; k <- items if !errors.contains(k))
      try { val s = run(k); if (best.get(k).forall(s.sec < _.sec)) best(k) = s }
      catch { case e: Throwable =>
        errors(k) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        best -= k
      }
    Best(best, errors)
  }

  /** Records the jobs of one SparkContext; a sample keeps those that
    * started inside it. Event times, not delivery times: the listener
    * bus delivers late. */
  private final class JobRecorder(sc: SparkContext) extends SparkListener {
    private val started = new ConcurrentHashMap[Int, (Long, String)]()
    private val ended = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    private val sqlSites = new ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.description)
      case s: SparkListenerSQLExecutionEnd => sqlSites.remove(s.executionId)
      case _ =>
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      // an adaptive-execution job's call site is a JDK frame, so a SQL job takes its
      // execution's; any other job's is the name of its result stage, its last
      val label = prop("spark.job.description")
        .orElse(prop("spark.sql.execution.id").flatMap(id => Option(sqlSites.get(id.toLong))))
        .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      started.put(js.jobId, (js.time, label))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = Option(started.remove(je.jobId))
      .foreach { case (t0, label) => ended.add((je.jobId, t0, je.time, label)) }

    /** Forget every job delivered so far. */
    def open(): Unit = { bridge.drainListenerBus(sc); started.clear(); ended.clear() }

    /** The jobs that started after [[open]] and have ended, by id, timed
      * from `originMs` (epoch milliseconds, the event clock). */
    def close(originMs: Long): Seq[Job] = {
      bridge.drainListenerBus(sc)
      ended.asScala.toSeq.map { case (id, t0, t1, label) =>
        Job(id, (t0 - originMs) / 1e3, (t1 - originMs) / 1e3, label)
      }.sortBy(_.id)
    }
  }

  private val recorders = new ConcurrentHashMap[SparkContext, JobRecorder]()

  /** The recorder of `sc`, registered on first use: one per context. */
  private def recorder(sc: SparkContext): JobRecorder =
    recorders.computeIfAbsent(sc, _ => { val r = new JobRecorder(sc); sc.addSparkListener(r); r })

  /** Seconds `ScaleProbe` reports for `query` over `dir` with `reps`
    * reps, in a fresh JVM on this JVM's classpath: a fresh session in a
    * fresh process carries none of the caller's session state (memoized
    * checkpoint blocks, listener backlog, old-gen pressure). Run it with
    * no session alive in the caller: a live session's parked executor
    * threads and resident heap contend with the probe, so a GC first
    * hands a stopped session's heap back. The probe's log goes to this
    * process's stderr; Left says why no figure came back. */
  def probe(dir: String, query: String, reps: Int): Either[String, Double] = {
    System.gc()
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    val p = new ProcessBuilder(javaBin.toString, "-Xmx24g",
        "-cp", System.getProperty("java.class.path"),
        "graft.ScaleProbe", dir, query, reps.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8").linesIterator.toSeq
    val rc = p.waitFor()
    out.lastOption.flatMap(""""sec":([0-9.]+)""".r.findFirstMatchIn(_))
      .map(_.group(1).toDouble)
      .toRight(s"ScaleProbe $dir $query exited $rc without a timing line")
  }

  /** A JSON number with three decimals. */
  def num(v: Double): String = f"$v%.3f"

  /** A JSON string: quotes, backslashes and control characters escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of rendered values, in order, keys escaped. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.iterator.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
