package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The shared measurement loop: per-job records of a sample, the
  * min-of-N error discipline, and the JSON renderer. */
class MeasureSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("a sample records each job of its body, labelled, and the driver gap") {
    val sc = spark.sparkContext
    sc.parallelize(1 to 100, 2).count() // before the sample: not counted
    val s = Measure.sample(spark) {
      Seq("first", "second").foreach { label =>
        sc.setJobDescription(s"measure-spec $label")
        try sc.parallelize(1 to 1000, 2).map(_ * 2).count()
        finally sc.setJobDescription(null)
        Thread.sleep(50) // driver-side work between jobs
      }
      sc.parallelize(1 to 10, 1).count() // unlabelled: Spark's call site
    }
    // this body's jobs (another suite's leftover job would be sampled too)
    val own = s.jobs.filter(j => j.label.startsWith("measure-spec") ||
      j.label.contains("MeasureSpec.scala"))
    assert(own.map(_.label).take(2) == Seq("measure-spec first", "measure-spec second"), s.jobs)
    assert(own.size == 3 && own(2).label.contains("MeasureSpec.scala"), s.jobs)
    assert(s.jobs.forall(_.sec >= 0) && s.jobSec == s.jobs.map(_.sec).sum)
    // the union of the job intervals is at most their summed time
    assert(s.gapSec >= s.sec - s.jobSec - 0.01 && s.gapSec >= 0.1 && s.gapSec <= s.sec, s)
  }

  test("overlapping jobs count once in the driver gap, which stays non-negative") {
    val sc = spark.sparkContext
    val s = Measure.sample(spark) {
      Par.inParallel(Seq("a", "b").map { label => () =>
        sc.setJobDescription(s"measure-spec overlap $label")
        try sc.parallelize(1 to 2, 2).map { x => Thread.sleep(400); x }.count()
        finally sc.setJobDescription(null)
      })
      ()
    }
    val own = s.jobs.filter(_.label.startsWith("measure-spec overlap"))
    assert(own.size == 2, s.jobs)
    val Seq(a, b) = own
    assert(a.start < b.end && b.start < a.end, s"jobs did not overlap: $own")
    assert(s.gapSec >= 0 && s.gapSec <= s.sec, s)
    // the overlap is counted once: wall minus summed job time is smaller
    assert(s.sec - s.jobSec < s.gapSec, s)
  }

  test("min-of-N keeps each item's best sample; a failing item is recorded once, then skipped") {
    val runs = mutable.Map[String, Int]().withDefaultValue(0)
    val best = Measure.minOfN(3, Seq("ok", "bad", "late")) { k =>
      runs(k) += 1
      k match {
        case "bad" => throw new IllegalStateException("boom")
        case "late" if runs(k) == 2 => throw new RuntimeException()
        case _ => Measure.Sample(Seq(3.0, 1.0, 2.0)(runs(k) - 1), Nil, 0L, 0.0)
      }
    }
    assert(runs == Map("ok" -> 3, "bad" -> 1, "late" -> 2))
    assert(best.samples.keySet == Set("ok") && best.samples("ok").sec == 1.0)
    assert(best.errors == Map("bad" -> "boom", "late" -> "java.lang.RuntimeException"))
    assert(intercept[IllegalStateException](best.secs).getMessage.contains("bad -> boom"))
    assert(Measure.minOfN(2, Seq("ok"))(_ => Measure.Sample(1.0, Nil, 0L, 0.0)).secs ==
      Map("ok" -> 1.0))
  }

  test("the JSON renderer escapes quotes, backslashes and control characters") {
    assert(Measure.str("a\"b\\c\nd\u0001") == "\"a\\\"b\\\\c\\u000ad\\u0001\"")
    assert(Measure.obj(Seq("k\"" -> Measure.num(1.23456), "n" -> "2")) ==
      "{\"k\\\"\":1.235,\"n\":2}")
  }
}
