package graft.pipeline

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** Typed pipeline configuration — the reference's constructor options
  * (index.js:25-54) minus the falsy-merge quirk (SURVEY.md §4.4.1: the
  * reference ignores `false`/`0` overrides; a typed config can't).
  *
  *   - `insertLimit` (index.js:51, default 100): the reference's sink
  *     flush batch size. Nothing here reads it: each sink takes its own
  *     (`InfluxDsv2Sink(baseDir, insertLimit)`, `MicroBatchSink`). Kept
  *     because benchmark code constructs the field.
  *   - `limit` (index.js:50, default 2 — the code value, not the README's
  *     4; SURVEY.md §4.4.2): bounded cross-table concurrency.
  *   - `emptySeries` (index.js:52, default false): truncate destination
  *     series before appending.
  *   - `systemMarker` (index.js:298): skip tables whose name CONTAINS it.
  *   - `queryLimit` (index.js:47, default 100k rows/page): the reference's
  *     read-page size existed only to bound single-process memory; the
  *     Spark analogue is input-split sizing, so when set it becomes
  *     `spark.sql.files.maxPartitionBytes` (bytes) for the migration.
  */
final case class PipelineConfig(
    insertLimit: Int = 100,
    limit: Int = 2,
    emptySeries: Boolean = false,
    systemMarker: String = "system",
    timeCol: String = "time",
    queryLimit: Option[Long] = None,
    logging: Boolean = true,
    // Resume: skip tables the sink has already marked complete (no
    // reference counterpart — a re-run there re-writes everything).
    // Markers land only AFTER a table's append returns, so an
    // interrupted table re-migrates on resume.
    resume: Boolean = false)

/** Per-table migration ledger, mirroring the reference's end-of-collection
  * report (index.js:271-272): rows written, rows skipped for a null/absent
  * time, and the success percentage.
  */
final case class TableReport(
    table_name: String,
    written: Long,
    skipped: Long,
    success_rate: Double)

/** End-to-end migration orchestration — the Spark re-expression of the
  * reference's `migrate` (index.js:340-370) + `migrateCollections`
  * (index.js:290-317) + `migrateCollection` (index.js:177-278):
  *
  *   enumerate tables -> skip `*system*` names -> per table:
  *   [truncate if emptySeries] -> prepare transform -> time-validity
  *   filter -> sink append, with the written/skipped ledger computed by
  *   `observe` in the SAME pass as the write (the reference counts skips
  *   inline in its write loop, index.js:235-239 — one pass, not two).
  *
  * Scale stances:
  *   - Intra-table parallelism is Spark's: the partitioned scan + write
  *     replace offset pagination (SURVEY.md §2 row 4) and page loops.
  *   - Cross-table concurrency: up to `limit` tables in flight, each as a
  *     Spark job submitted from a fixed thread pool (the scheduler is
  *     thread-safe; FAIR/FIFO pools apply). At 1000 executors this keeps
  *     small-table scheduling latency off the critical path while big
  *     tables saturate the cluster.
  *   - No driver-side row materialization anywhere: counts come from
  *     observed metrics, data flows executor -> sink.
  */
object Pipeline {

  /** The example prepare functions (examples/migrate.js:27-38 drops `_id`
    * and renames the date field to `time`), generalized per fixture table:
    * tables with an event-time column expose it as `time`; tables without
    * one produce no `time` and get fully skip-counted — the reference's
    * "no truthy time -> skip" rule (index.js:235-239).
    */
  def defaultPrepare(name: String): DataFrame => DataFrame = name match {
    case "events" => df => df.withColumn("time", col("ts")).drop("ts", "event_id")
    case "orders" => df => df.withColumn("time", col("o_orderdate"))
    case "lineitem" => df => df.withColumn("time", col("l_shipdate"))
    case _ => identity
  }

  /** Migrate one table through prepare -> time filter -> sink, returning
    * its ledger. One Spark action; metrics observed on the pre-filter
    * plan so written and skipped come from the same pass.
    */
  def migrateTable(
      spark: SparkSession,
      srcDir: String,
      name: String,
      prepare: DataFrame => DataFrame,
      sink: Sink,
      config: PipelineConfig = PipelineConfig()): TableReport = {
    if (config.emptySeries) sink.truncate(name)

    val prepared0 = prepare(Catalog.table(spark, srcDir, name))
    val prepared =
      if (prepared0.columns.contains(config.timeCol)) prepared0
      else prepared0.withColumn(config.timeCol,
        lit(null).cast("timestamp"))

    val obs = Observation(s"migrate_$name")
    val t = col(config.timeCol)
    val observed = prepared.observe(obs,
      count(t).as("written"),
      (count(lit(1)) - count(t)).as("skipped"))

    sink.append(observed.where(t.isNotNull), name)

    val written = obs.get("written").asInstanceOf[Long]
    val skipped = obs.get("skipped").asInstanceOf[Long]
    val total = written + skipped
    // Success rate per index.js:271: 100/itemCount*(itemCount-rowsSkipped).
    // Empty table -> vacuous 100% (the reference would divide by zero).
    val rate = if (total == 0) 100.0 else (written * 100).toDouble / total
    TableReport(name, written, skipped, rate)
  }

  /** Migrate every non-system table under `srcDir`, at most `config.limit`
    * tables in flight, returning the per-table ledger as a DataFrame
    * (sorted by name — the reference reports per collection as each
    * finishes; a deterministic order is the batch equivalent).
    */
  def migrate(
      spark: SparkSession,
      srcDir: String,
      sink: Sink,
      prepare: String => DataFrame => DataFrame = defaultPrepare,
      config: PipelineConfig = PipelineConfig()): DataFrame = {
    // Split-size override is scoped to THIS migration: snapshot the conf
    // and restore it in the finally below, so the reduced split size does
    // not silently apply to every later query on the shared session.
    val savedSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    config.queryLimit.foreach(b =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", b.toString))
    val tables = Catalog.nonSystem(Catalog.listTables(srcDir), config.systemMarker)
    val pool = Executors.newFixedThreadPool(math.max(1, config.limit))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = tables.map { name =>
        Future {
          spark.sparkContext.setJobDescription(s"migrate $name")
          // Failure isolation mirrors the reference (index.js:264-268):
          // a collection that errors is logged and excluded from the
          // ledger; the other collections still migrate.
          try {
            if (config.resume && sink.isDone(name)) {
              if (config.logging)
                System.err.println(s"[pipeline] $name: already complete, skipped (resume)")
              None
            } else {
              // Resume idempotency: a crash in the window after the table's
              // data landed but before markDone leaves a complete (or, with
              // v2-committer / at-least-once sinks, partially duplicated)
              // copy with no marker. Re-migrating with a bare append would
              // double-count it, so an unmarked table is re-done as
              // delete-then-rewrite (truncate also clears any stale marker).
              if (config.resume) sink.truncate(name)
              val r = migrateTable(spark, srcDir, name, prepare(name), sink, config)
              sink.markDone(name)
              // per-collection completion line (index.js:271-272), gated by
              // the reference's `logging` flag (index.js:49)
              if (config.logging)
                System.err.println(f"[pipeline] $name: written=${r.written} " +
                  f"skipped=${r.skipped} success=${r.success_rate}%.1f%%")
              Some(r)
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[pipeline] migrate $name failed: ${e.getMessage}")
              None
          }
        }
      }
      val reports = Await.result(Future.sequence(futures), Duration.Inf).flatten
      import spark.implicits._
      reports.sortBy(_.table_name).toDF()
    } finally {
      pool.shutdown()
      if (config.queryLimit.isDefined) savedSplit match {
        case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
    }
  }
}
