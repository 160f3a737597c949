package graft

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The engine's one tracer: named spans over driver code, each summing
  * its wall time and the Spark work it launched.
  *
  * `span(s, layer, name) { body }` times `body` and puts the span's key
  * on the calling thread's Spark local properties, so every job `body`
  * starts carries it: on this thread, on the threads Spark itself runs
  * a query's sub-jobs on, and on a driver future started with `future`.
  * One listener, registered once per live SparkContext on the first
  * span, sums each job's stages, task time, shuffle write, spill and GC
  * under the innermost span open when the job started; work started
  * outside every span lands under `Untraced`.
  *
  * Totals are cumulative per (layer, name) for the life of the JVM.
  * Keys are code constants or registry names only, so the table stays
  * as small as the code, and the listener forgets a job's stages when
  * the job ends (the `pipeline.ProgressListener` discipline). Wall time
  * is added when a span closes; Spark work arrives on the listener bus
  * later, so `snapshot` drains the bus first. A span never waits on it.
  *
  * Layer `Store` is the standing-store build ledger: each store times
  * its cache-miss build under its key (`durable_<family>`,
  * `compact_<family>`, the `AppCache` keys), Bench reports those wall
  * seconds as `store_build_sec`, and the zero-build gates compare
  * `seconds` across a reload.
  */
object Trace {

  type Key = (String, String)

  /** The local property carrying the innermost open span, `layer/name`. */
  private val SpanKey = "graft.trace.span"

  val Store = "store"

  val Untraced: Key = ("engine", "untraced")

  /** What one key has summed: spans closed, their wall time, and the
    * jobs, stages, task time, shuffle-write bytes, spill bytes and GC
    * time of the Spark jobs started inside them.
    */
  final case class Work(spans: Long = 0, wallNs: Long = 0, jobs: Long = 0,
      stages: Long = 0, taskMs: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, gcMs: Long = 0) {
    def +(o: Work): Work = Work(spans + o.spans, wallNs + o.wallNs,
      jobs + o.jobs, stages + o.stages, taskMs + o.taskMs,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      gcMs + o.gcMs)
    def -(o: Work): Work = Work(spans - o.spans, wallNs - o.wallNs,
      jobs - o.jobs, stages - o.stages, taskMs - o.taskMs,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
      gcMs - o.gcMs)
    def seconds: Double = wallNs / 1e9
  }

  private val totals = new ConcurrentHashMap[Key, Work]()

  private def add(k: Key, w: Work): Unit = totals.merge(k, w, _ + _)

  private object Listener extends SparkListener {
    private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    // stage id -> live jobs claiming it: a stage shared by two
    // concurrent jobs stays mapped until the second one ends
    private val stageRefs = new ConcurrentHashMap[Int, Int]()
    private val stageSpan = new ConcurrentHashMap[Int, Key]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val k = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map { v => val i = v.indexOf('/'); (v.take(i), v.drop(i + 1)) }
        .getOrElse(Untraced)
      add(k, Work(jobs = 1))
      e.stageIds.foreach { sid =>
        stageRefs.merge(sid, 1, _ + _)
        stageSpan.put(sid, k)
      }
      jobStages.put(e.jobId, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStages.remove(e.jobId)).foreach(_.foreach { sid =>
        if (stageRefs.merge(sid, -1, _ + _) <= 0) {
          stageRefs.remove(sid)
          stageSpan.remove(sid)
        }
      })

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(add(_, Work(stages = 1)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (k <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics))
        add(k, Work(taskMs = m.executorRunTime,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          gcMs = m.jvmGCTime))

    def entries: Int = jobStages.size + stageRefs.size + stageSpan.size

    /** Job and stage ids restart with a new SparkContext. */
    def reset(): Unit = { jobStages.clear(); stageRefs.clear(); stageSpan.clear() }
  }

  @volatile private var registeredOn: SparkContext = _

  private def register(sc: SparkContext): Unit =
    if (registeredOn ne sc) synchronized {
      if (registeredOn ne sc) {
        Listener.reset()
        sc.addSparkListener(Listener)
        registeredOn = sc
      }
    }

  /** Run `body` as span (layer, name); `layer` holds no '/'. */
  def span[T](s: SparkSession, layer: String, name: String)(body: => T): T = {
    val sc = s.sparkContext
    register(sc)
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s"$layer/$name")
    val t0 = System.nanoTime()
    try body
    finally {
      add((layer, name), Work(spans = 1, wallNs = System.nanoTime() - t0))
      sc.setLocalProperty(SpanKey, saved)
    }
  }

  /** `body` on `ec`, under the span open on the submitting thread. A
    * pooled thread keeps the local properties of the thread that
    * created it, so without this its jobs would count toward whichever
    * span was open when the pool grew.
    */
  def future[T](s: SparkSession, ec: ExecutionContext = ExecutionContext.global)(
      body: => T): Future[T] = {
    val sc = s.sparkContext
    val open = sc.getLocalProperty(SpanKey)
    Future {
      val saved = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, open)
      try body finally sc.setLocalProperty(SpanKey, saved)
    }(ec)
  }

  /** Wall seconds the spans of (layer, name) have taken so far; reads
    * no Spark work, so it never waits on the listener bus.
    */
  def seconds(layer: String, name: String): Double =
    Option(totals.get((layer, name))).fold(0.0)(_.seconds)

  /** Every key's totals, once the listener has seen every scheduler
    * event posted so far.
    */
  def snapshot(s: SparkSession): Map[Key, Work] = {
    if (registeredOn eq s.sparkContext) GraftBridge.drainListenerBus(s.sparkContext)
    totals.asScala.toMap
  }

  /** The keys whose totals moved from `before` to `after`, by how much. */
  def delta(before: Map[Key, Work], after: Map[Key, Work]): Map[Key, Work] =
    after.map { case (k, w) => k -> (w - before.getOrElse(k, Work())) }
      .filter(_._2 != Work())

  /** Job and stage entries the listener holds now. */
  private[graft] def liveEntries: Int = Listener.entries
}
