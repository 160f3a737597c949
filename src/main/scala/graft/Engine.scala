package graft

import org.apache.spark.sql.SparkSession

/** Session factory — the engine's `connect` analogue (reference:
  * index.js:81-109 builds its two clients; here one SparkSession carries
  * both "connections"). Centralizes the configuration the engine expects
  * so Verify/Bench/tests and library users agree:
  *
  *   - UTC session timezone (the fixtures' and oracle's contract).
  *   - `nanosAsLong` for the TIMESTAMP(NANOS) parquet fixtures
  *     (graft.Tables.load converts ns -> µs losslessly).
  *   - AQE on (default in Spark 4.x) with skew-join handling: at 100 TB,
  *     runtime re-planning — not hand-tuned hints — is what picks
  *     broadcast vs shuffle joins and splits skewed partitions.
  *   - shuffle partitions sized to the parallelism the caller states
  *     (a local harness wants cores, not the 200 default; a cluster
  *     deployment would size to ~2-3x total executor cores or rely on
  *     AQE coalescing).
  */
object Engine {

  def session(master: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime bloom-filter semi-join reduction (off by default): inject
      // a bloom filter built from the dim side into the fact scan, so a
      // selective join prunes shuffle input at the source — the
      // Spark-native form of the classic bloom-prune pattern.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
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
