package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** `Trace`: each job counts toward the innermost span open where it
  * started, a driver future counts toward the span that submitted it,
  * and the listener's per-job state is gone once the jobs end.
  */
class TraceSpec extends SparkSpec {

  /** Exactly one job of one stage. */
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  private def moved(body: => Unit): Map[(String, String), Trace.Work] = {
    val before = Trace.snapshot(spark)
    body
    Trace.delta(before, Trace.snapshot(spark))
  }

  test("nested spans attribute each job to the innermost span") {
    val d = moved {
      Trace.span(spark, "trace_spec", "outer") {
        oneJob()
        Trace.span(spark, "trace_spec", "inner")(oneJob())
        oneJob()
      }
    }
    val outer = d(("trace_spec", "outer"))
    val inner = d(("trace_spec", "inner"))
    assert((outer.spans, outer.jobs, outer.stages) === ((1L, 2L, 2L)))
    assert((inner.spans, inner.jobs, inner.stages) === ((1L, 1L, 1L)))
    assert(outer.taskMs >= 0 && outer.wallNs >= inner.wallNs)
    assert(!d.contains(Trace.Untraced), d)
  }

  test("a job a pooled thread runs for span B counts toward B, though " +
      "the thread was created under span A") {
    val pool = Executors.newSingleThreadExecutor()
    val ec = ExecutionContext.fromExecutorService(pool)
    try {
      // the pool's one thread starts here and inherits span A's properties
      Trace.span(spark, "trace_spec", "pool_a")(Await.result(Future(())(ec), 30.seconds))
      val carried = moved {
        Trace.span(spark, "trace_spec", "pool_b")(
          Await.result(Trace.future(spark, ec)(oneJob()), 30.seconds))
      }
      assert(carried.get(("trace_spec", "pool_b")).map(_.jobs) === Some(1L), carried)
      assert(!carried.get(("trace_spec", "pool_a")).exists(_.jobs > 0), carried)
      // control: a plain future on that thread still runs under span A
      val plain = moved {
        Trace.span(spark, "trace_spec", "pool_b")(
          Await.result(Future(oneJob())(ec), 30.seconds))
      }
      assert(plain.get(("trace_spec", "pool_a")).map(_.jobs) === Some(1L), plain)
    } finally pool.shutdownNow()
  }

  test("after 1,000 spans and a drain the listener holds no job or stage " +
      "entries") {
    val d = moved((1 to 1000).foreach(_ => Trace.span(spark, "trace_spec", "many")(oneJob())))
    val many = d(("trace_spec", "many"))
    assert((many.spans, many.jobs) === ((1000L, 1000L)))
    assert(Trace.liveEntries === 0)
  }
}
