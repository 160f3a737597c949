package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM-wide session — Spark
  * sessions are expensive; getOrCreate makes the suites share it).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `body` runs, counted by `Trace`: the
    * jobs of every span (the body runs in one of its own, and spans it
    * opens take their jobs from it), plus any started outside a span.
    * The suites run one at a time, so nothing else starts jobs then.
    */
  def jobsStarted(body: => Unit): Int = {
    val before = Trace.snapshot(spark)
    Trace.span(spark, "test", "jobs_started")(body)
    Trace.delta(before, Trace.snapshot(spark)).values.map(_.jobs).sum.toInt
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
