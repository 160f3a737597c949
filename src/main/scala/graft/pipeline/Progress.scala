package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Live progress/throughput metrics for migrations — the Spark face of the
  * reference's 500 ms `bench()` sampler + `draw()` TUI (index.js:214-225,
  * 111-155). The reference recomputes inserts/sec from counter deltas on a
  * timer; here a `SparkListener` accumulates per-table output-row counts
  * as tasks finish, and `snapshot()` derives rows/sec from elapsed time —
  * poll it on any cadence you like (the reference's was 500 ms).
  *
  * Attribution uses the job description set by `Pipeline.migrate`
  * ("migrate <table>"), the idiomatic listener-side channel for job
  * identity. Kept deliberately thin (SURVEY.md §2 row 11: observability,
  * not a correctness surface): no TUI, no ring-buffer log — callers render.
  */
final class ProgressListener extends SparkListener {

  /** table -> (rows written so far, first-seen nanos). */
  private val state = new ConcurrentHashMap[String, (Long, Long)]()
  private val stageTable = new ConcurrentHashMap[Int, String]()
  // migrate-job id -> its stage ids, so onJobEnd can evict exactly what
  // onJobStart registered — without this both maps grow for the lifetime
  // of the listener (a slow leak on long-lived sessions).
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  // stage id -> number of live migrate jobs claiming it. A shuffle stage
  // skipped/reused by a second concurrent job shares the first job's stage
  // id; without the refcount the first job's end would evict the mapping
  // while the second job's tasks are still attributing to it.
  private val stageRefs = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val desc = jobStart.properties.getProperty("spark.job.description", "")
    if (desc.startsWith("migrate ")) {
      val table = desc.stripPrefix("migrate ")
      jobStart.stageIds.foreach { sid =>
        stageRefs.merge(sid, 1, (a, b) => a + b)
        stageTable.put(sid, table)
      }
      jobStages.put(jobStart.jobId, jobStart.stageIds)
      state.putIfAbsent(table, (0L, System.nanoTime()))
    }
  }

  override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit =
    Option(jobStages.remove(jobEnd.jobId)).foreach(_.foreach { sid =>
      // drop the stage mapping only when no live job still claims it
      val left = stageRefs.merge(sid, -1, (a, b) => a + b)
      if (left <= 0) {
        stageRefs.remove(sid)
        stageTable.remove(sid)
      }
    })

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val written = math.max(influxRows(taskEnd), Option(taskEnd.taskMetrics)
      .map(_.outputMetrics.recordsWritten).getOrElse(0L))
    if (written > 0) {
      Option(stageTable.get(taskEnd.stageId)).foreach { table =>
        state.computeIfPresent(table, (_, v) => (v._1 + written, v._2))
      }
    }
  }

  /** Rows a graft-influx task reported through its DSv2 custom metric
    * (DSv2 writers leave `outputMetrics.recordsWritten` at 0).
    */
  private def influxRows(taskEnd: SparkListenerTaskEnd): Long =
    Option(taskEnd.taskInfo).toSeq.flatMap(_.accumulables)
      .find(_.name.contains(InfluxRowsMetric.Description))
      .flatMap(_.update).collect { case n: Long => n }.getOrElse(0L)

  /** Per-table (rowsWritten, rowsPerSec) since first task. */
  def snapshot(): Map[String, (Long, Double)] =
    state.asScala.toMap.map { case (t, (rows, t0)) =>
      val secs = math.max(1e-9, (System.nanoTime() - t0) / 1e9)
      t -> (rows, rows / secs)
    }

  /** Forget a finished table's counters (snapshot rates for completed
    * tables only drift down as wall time passes; callers that poll
    * long-lived sessions reset per table once they've rendered it).
    */
  def reset(table: String): Unit = state.remove(table)

  def register(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this); this
  }

  def unregister(spark: SparkSession): Unit =
    spark.sparkContext.removeSparkListener(this)
}

/** Streaming face of [[ProgressListener]] — the reference's 500 ms
  * inserts/sec sampler (index.js:214-225) for the CONTINUOUS migration
  * path: per-query processed-row totals and rates accumulated from the
  * engine's own micro-batch progress events. Rows/sec comes in two
  * flavors: `snapshot()` derives a since-first-batch average (the batch
  * listener's semantics), and `lastRate` surfaces the engine's own
  * per-batch `processedRowsPerSecond` (the reference's sliding sample).
  * Queries are keyed by their `queryName` (falling back to the run id),
  * so one listener serves every stream on the session — events arrive on
  * the listener bus, i.e. asynchronously after each batch commits.
  */
final class StreamingProgressListener extends StreamingQueryListener {

  /** name -> (rows so far, first-event nanos, last per-batch rows/sec). */
  private val state = new ConcurrentHashMap[String, (Long, Long, Double)]()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    val rows = p.numInputRows
    if (rows > 0) {
      val rate = p.processedRowsPerSecond
      state.merge(name, (rows, System.nanoTime(), rate),
        (old, add) => (old._1 + add._1, old._2, add._3))
    }
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Per-query (rowsProcessed, rowsPerSec since first progress event). */
  def snapshot(): Map[String, (Long, Double)] =
    state.asScala.toMap.map { case (n, (rows, t0, _)) =>
      val secs = math.max(1e-9, (System.nanoTime() - t0) / 1e9)
      n -> (rows, rows / secs)
    }

  /** The engine's own per-batch rows/sec for `query`'s LAST batch — the
    * closest analogue of the reference's 500 ms window sample.
    */
  def lastRate(query: String): Option[Double] =
    Option(state.get(query)).map(_._3)

  def reset(query: String): Unit = state.remove(query)

  def register(spark: SparkSession): this.type = {
    spark.streams.addListener(this); this
  }

  def unregister(spark: SparkSession): Unit =
    spark.streams.removeListener(this)
}
