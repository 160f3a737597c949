package graft

import org.apache.spark.sql.{Dataset, GraftBridge, SparkSession}

import graft.streaming.LocalCheckpointFileManager

/** Session factory — the engine's `connect` analogue (reference:
  * index.js:81-109 builds its two clients; here one SparkSession carries
  * both "connections"). Centralizes the configuration the engine expects
  * so Verify/Bench/tests and library users agree:
  *
  *   - UTC session timezone (the fixtures' and oracle's contract).
  *   - `nanosAsLong`, so a TIMESTAMP(NANOS) parquet source loads (the
  *     fixtures are TIMESTAMP(MICROS)): graft.Tables.load converts
  *     ns -> µs losslessly, and refuses such a file on a session
  *     without the key.
  *   - AQE on (default in Spark 4.x) with skew-join handling: at 100 TB,
  *     runtime re-planning — not hand-tuned hints — is what picks
  *     broadcast vs shuffle joins and splits skewed partitions.
  *   - shuffle partitions sized to the parallelism the caller states
  *     (a local harness wants cores, not the 200 default; a cluster
  *     deployment would size to ~2-3x total executor cores or rely on
  *     AQE coalescing).
  *   - graft.streaming.LocalCheckpointFileManager as the streaming
  *     checkpoint writer: Spark's own manager writes each local
  *     checkpoint file with forked `chmod`s, and the three files of a
  *     micro-batch were about half of the micro-batch loop.
  *   - A bounded job history (100 jobs, stages and SQL executions): the
  *     UI is off, and Spark's 1000-entry default only grew the driver's
  *     heap with each micro-batch.
  */
object Engine {

  /** The settings every engine session carries (`session` adds the
    * master and the shuffle width).
    */
  private[graft] val settings: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Runtime bloom-filter semi-join reduction (off by default): inject
    // a bloom filter built from the dim side into the fact scan, so a
    // selective join prunes shuffle input at the source — the
    // Spark-native form of the classic bloom-prune pattern.
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    // Headless history: Spark keeps 1000 finished jobs, stages and SQL
    // executions for its UI whether or not the UI runs. A micro-batch
    // is one of each, about 10 KB of live heap (plans/pr10/), so a faster
    // stream held more heap until 1000. Nothing in the engine reads them.
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.sql.ui.retainedExecutions" -> "100",
    LocalCheckpointFileManager.ClassKey -> classOf[LocalCheckpointFileManager].getName)

  def session(master: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(settings)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` on a clone of `s` that carries `conf`, so the override
    * reaches only the plans built inside the body: a session's conf is
    * shared by every thread planning on it, and `Pipeline.migrate` plans
    * up to `limit` collections at once on the caller's own session. The
    * one place the engine writes session conf.
    *
    * The clone shares `s`'s SparkContext and cache and starts from a
    * copy of its conf, temp views and functions. A temp view or memory
    * sink registered inside lives on the clone only, so read it inside.
    * A Dataset the body returns is rebound onto `s`; a lazy one plans
    * its later actions under `s`'s conf, so materialize inside whatever
    * must run under the override. An empty `conf` runs `body(s)`.
    */
  def scoped[T](s: SparkSession, conf: Map[String, String])(
      body: SparkSession => T): T =
    if (conf.isEmpty) body(s)
    else {
      val c = GraftBridge.cloneSession(s)
      conf.foreach { case (k, v) => c.conf.set(k, v) }
      body(c) match {
        case d: Dataset[_] if d.sparkSession eq c =>
          GraftBridge.rebind(d, s).asInstanceOf[T]
        case r => r
      }
    }

  /** Harness entry: local[cpus] with matching shuffle width. */
  def local(cpus: Int): SparkSession = session(s"local[$cpus]", cpus)

  /** The conf a multi-executor deployment of this engine starts from,
    * derived from total executor cores (e.g. 1000 executors x 8 cores ->
    * totalCores = 8000). Encodes the sizing rules the local harness can't
    * exercise but the scaladocs assume:
    *   - shuffle width 2x total cores (AQE coalesces down; undersized
    *     shuffles spill, oversized ones pay scheduler overhead),
    *   - 256 MiB scan splits (fewer, fuller input tasks at PB scan sizes),
    *   - AQE + skew-join + runtime bloom filters (same as `session`),
    *   - RocksDB state store for streaming state that outgrows heap.
    * Apply via `SparkSession.builder.config(...)` per pair, or merge into
    * spark-defaults; `session` stays the single source for the semantics
    * confs (UTC, nanosAsLong) which apply at any scale.
    */
  def clusterDefaults(totalCores: Int): Map[String, String] = {
    require(totalCores > 0, "totalCores must be positive")
    Map(
      "spark.sql.shuffle.partitions" -> (totalCores * 2).toString,
      "spark.sql.files.maxPartitionBytes" -> (256L * 1024 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // Straggler mitigation: at 1000 executors one slow disk stalls the
      // stage tail. Safe for this engine's COMMITTED sinks — parquet's
      // commit protocol and the graft-influx staging/publish protocol
      // (behind InfluxDsv2Sink and format("graft-influx")) both discard the
      // losing attempt's files. NOT safe for a raw MicroBatchSink with a
      // side-effecting flushFn (HTTP POST, message bus): that path is
      // at-least-once under speculation and the flushFn must be
      // idempotent — see the MicroBatchSink scaladoc.
      "spark.speculation" -> "true",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }
}
