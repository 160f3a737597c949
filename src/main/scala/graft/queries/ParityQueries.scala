package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{ParquetSink, Pipeline, PipelineConfig}
import graft.sources.Catalog

/** Reference-parity dataflow, re-expressed as declarative Spark plans.
  *
  * The reference's per-collection pipeline (index.js:177-278) is:
  * paginated full scan -> per-row "prepare function" -> validity filter on
  * `time` -> micro-batched sink write, with a written/skipped ledger
  * (index.js:235-239, 271-272). Here each stage is a Catalyst-visible
  * column operation so pruning/pushdown stay applicable (SURVEY.md §4.1);
  * the scan partitioning replaces offset pagination wholesale.
  *
  * `events` plays the Mongo collection (FIXTURES.md): `event_id` is the
  * `_id` analogue the example transform deletes, `ts` the `date` field it
  * renames to `time` (examples/migrate.js:29-36).
  */
object ParityQueries {

  /** The example prepare function as column ops: drop `_id`, `time` = date
    * field, drop the original (examples/migrate.js:27-38).
    */
  def prepare(df: DataFrame): DataFrame =
    df.withColumn("time", col("ts")).drop("ts", "event_id")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "p01_prepare_map",
      "per-row prepare transform (drop id, rename ts->time) as Catalyst column ops",
      (s, dir) => prepare(Tables.load(s, dir, "events")),
      Some("""SELECT user_id, event_type, value, props, CAST(ts AS TIMESTAMP) AS time
             |FROM events""".stripMargin)),

    QuerySpec(
      "p02_time_filter",
      "time-validity filter: rows with null time are dropped (index.js:235-239)",
      (s, dir) => prepare(Tables.load(s, dir, "events")).where(col("time").isNotNull),
      Some("""SELECT user_id, event_type, value, props, CAST(ts AS TIMESTAMP) AS time
             |FROM events WHERE ts IS NOT NULL""".stripMargin)),

    QuerySpec(
      "p03_skip_ledger",
      "written/skipped/success-rate ledger in one pass (index.js:271-272)",
      (s, dir) => {
        val e = prepare(Tables.load(s, dir, "events"))
        e.agg(
          count(col("time")).as("written"),
          (count(lit(1)) - count(col("time"))).as("skipped"),
          ((count(col("time")) * lit(100)).cast("double") / count(lit(1)))
            .as("success_rate"))
      },
      Some("""SELECT count(ts) AS written,
             |       count(*) - count(ts) AS skipped,
             |       CAST(100 * count(ts) AS DOUBLE) / count(*) AS success_rate
             |FROM events""".stripMargin)),

    QuerySpec(
      "p04_catalog_counts",
      "catalog scan + system-name filter + per-table count (index.js:356, 298, 281-287)",
      (s, dir) => {
        val names = Catalog.nonSystem(Catalog.listTables(dir))
        names
          .map { n =>
            Catalog.table(s, dir, n)
              .agg(count(lit(1)).as("n_rows"))
              .select(lit(n).as("table_name"), col("n_rows"))
          }
          .reduce(_.unionAll(_))
      },
      Some(Tables.all.sorted
        .map(n => s"SELECT '$n' AS table_name, count(*) AS n_rows FROM $n")
        .mkString("", "\nUNION ALL\n", ""))),

    QuerySpec(
      "p05_count",
      "whole-table count (index.js:281-287); parquet answers from footer metadata",
      (s, dir) => Tables.load(s, dir, "lineitem").agg(count(lit(1)).as("n_rows")),
      Some("SELECT count(*) AS n_rows FROM lineitem"))
  ) ++ pipelineSpecs

  /** Time column each fixture table exposes as `time` under
    * `Pipeline.defaultPrepare` (None = no time -> fully skip-counted).
    */
  private def timeColOf: Map[String, String] =
    Map("events" -> "ts", "orders" -> "o_orderdate", "lineitem" -> "l_shipdate")

  private def tempSinkDir(): String = QuerySpec.tempSinkDir()

  private def pipelineSpecs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "p06_migrate",
      "end-to-end migration: catalog scan -> per-table prepare -> time filter -> parquet sink append, bounded cross-table concurrency, one-pass observe ledger (index.js:340-370)",
      (s, dir) => Pipeline.migrate(s, dir, new ParquetSink(tempSinkDir())),
      Some(Tables.all.sorted.map { t =>
        timeColOf.get(t) match {
          case Some(tc) =>
            s"""SELECT '$t' AS table_name, count($tc) AS written,
               |  count(*) - count($tc) AS skipped,
               |  CAST(count($tc) * 100 AS DOUBLE) / count(*) AS success_rate
               |FROM $t""".stripMargin
          case None =>
            s"""SELECT '$t' AS table_name, 0 AS written,
               |  count(*) AS skipped, 0.0 AS success_rate
               |FROM $t""".stripMargin
        }
      }.mkString("", "\nUNION ALL\n", ""))),

    QuerySpec(
      "p07_truncate_rerun",
      "truncate mode (emptySeries, index.js:321-336): migrating twice with truncate yields exactly one copy in the sink",
      (s, dir) => {
        val sinkDir = tempSinkDir()
        val sink = new ParquetSink(sinkDir)
        val cfg = PipelineConfig(emptySeries = true)
        Pipeline.migrateTable(s, dir, "events", Pipeline.defaultPrepare("events"), sink, cfg)
        Pipeline.migrateTable(s, dir, "events", Pipeline.defaultPrepare("events"), sink, cfg)
        s.read.parquet(s"$sinkDir/events").agg(count(lit(1)).as("n_rows"))
      },
      Some("SELECT count(ts) AS n_rows FROM events")),

    QuerySpec(
      "p08_microbatch_sink",
      "micro-batched row-protocol sink path (foreachPartition + grouped(insertLimit), index.js:209-252): ledger + executor-side batch accounting must both equal the written count",
      (s, dir) => {
        // A Spark accumulator, not a JVM-local counter: executor-side adds
        // merge back to the driver from any node, so the sink-vs-ledger
        // invariant holds on a real cluster, not just local mode.
        val batchRows = s.sparkContext.longAccumulator("p08_batch_rows")
        val sink = new graft.pipeline.MicroBatchSink(
          100, (_, batch) => batchRows.add(batch.size))
        val r = graft.pipeline.Pipeline.migrateTable(
          s, dir, "events", Pipeline.defaultPrepare("events"), sink,
          PipelineConfig(logging = false))
        import s.implicits._
        // rows seen by the sink's executor-side batches must equal the
        // observe ledger — assert inside the query so the oracle check
        // covers the sink path itself.
        require(batchRows.value == r.written,
          s"sink saw ${batchRows.value} rows, ledger says ${r.written}")
        Seq((r.written, r.skipped, r.success_rate))
          .toDF("written", "skipped", "success_rate")
      },
      Some("""SELECT count(ts) AS written,
             |       count(*) - count(ts) AS skipped,
             |       CAST(count(ts) * 100 AS DOUBLE) / count(*) AS success_rate
             |FROM events""".stripMargin)),

    QuerySpec(
      "p09_dsv2_lineprotocol",
      "DSv2 line-protocol sink round-trip (writePoints/emptySeries as a Spark Table, index.js:242-252, 321-336): write events via format(\"graft-influx\") in overwrite(=truncate) mode, read the rendered flush files back as text, parse the lines, and emit count/id/timestamp invariants the oracle recomputes from the source table",
      (s, dir) => {
        val out = tempSinkDir()
        // insertlimit 5000: one flush file per ~5000-row POST body. (The
        // batching mechanics are covered at insertlimit=2 by
        // InfluxDsv2Spec; here the knob is sized so the flush-file count
        // stays O(partitions), not O(rows/500), as a real deployment
        // would size its POST bodies.)
        val src = Tables.load(s, dir, "events")
          .where(col("ts").isNotNull && col("event_id").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"))
        def write(): Unit = src
          .write.format("graft-influx")
          .option("path", out).option("measurement", "events")
          .option("timecol", "ts").option("insertlimit", "5000")
          .mode("overwrite").save()
        // Write twice in overwrite mode: DSv2 truncate must leave exactly
        // one copy (the p07 contract, now at the writer-API level).
        write()
        write()
        // Loud sink-duplication invariant (the p08 pattern): any retried /
        // speculative attempt whose flush file survives commit shows up
        // here as a count mismatch, not as a silent hash diff downstream.
        val expected = src.count()
        val rendered = s.read.text(s"$out/events").count()
        require(rendered == expected,
          s"sink rendered $rendered lines, source has $expected rows")
        s.read.text(s"$out/events")
          .select(
            regexp_extract(col("value"), "event_id=(-?\\d+)i", 1)
              .cast("long").as("eid"),
            regexp_extract(col("value"), " (-?\\d+)$", 1)
              .cast("long").as("ts_ns"))
          .agg(
            count(lit(1)).as("n_lines"),
            countDistinct(col("eid")).as("n_ids"),
            // BIGINT, not DECIMAL: a sum of event_ids fits int64 with room
            // to spare, and decimal is the one type whose canonical form
            // differs between Spark parquet and the DuckDB oracle hasher.
            sum(col("eid")).as("sum_id"),
            min(col("ts_ns")).as("min_ts_ns"),
            max(col("ts_ns")).as("max_ts_ns"))
      },
      Some("""SELECT count(*) AS n_lines,
             |  count(DISTINCT event_id) AS n_ids,
             |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
             |  min(epoch_ns(CAST(ts AS TIMESTAMP))) AS min_ts_ns,
             |  max(epoch_ns(CAST(ts AS TIMESTAMP))) AS max_ts_ns
             |FROM events
             |WHERE ts IS NOT NULL AND event_id IS NOT NULL""".stripMargin)),

    QuerySpec(
      "p10_stream_migrate",
      "continuous migration: the reference's whole job as a STREAM — readStream(events) -> prepare/filter -> writeStream.format(\"graft-influx\") (DSv2 STREAMING_WRITE, epoch-stamped flush files), run to completion with AvailableNow, then the rendered lines are parsed back and checked against the source-table oracle",
      (s, dir) => {
        val out = tempSinkDir()
        val q = graft.Tables.loadStream(s, dir, "events")
          .where(col("ts").isNotNull && col("event_id").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"))
          .writeStream.format("graft-influx")
          .option("path", out).option("measurement", "events")
          .option("timecol", "ts").option("insertlimit", "5000")
          .option("checkpointLocation", s"$out/_ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.stop()
        // Same loud invariant as p09: a duplicated epoch flush (replayed
        // micro-batch, speculative attempt) fails as a count, not a hash.
        val expected = Tables.load(s, dir, "events")
          .where(col("ts").isNotNull && col("event_id").isNotNull).count()
        val rendered = s.read.text(s"$out/events").count()
        require(rendered == expected,
          s"stream sink rendered $rendered lines, source has $expected rows")
        s.read.text(s"$out/events")
          .select(
            regexp_extract(col("value"), "event_id=(-?\\d+)i", 1)
              .cast("long").as("eid"),
            regexp_extract(col("value"), " (-?\\d+)$", 1)
              .cast("long").as("ts_ns"))
          .agg(
            count(lit(1)).as("n_lines"),
            countDistinct(col("eid")).as("n_ids"),
            // BIGINT for the same decimal-canonicalization reason as p09.
            sum(col("eid")).as("sum_id"),
            min(col("ts_ns")).as("min_ts_ns"),
            max(col("ts_ns")).as("max_ts_ns"))
      },
      Some("""SELECT count(*) AS n_lines,
             |  count(DISTINCT event_id) AS n_ids,
             |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
             |  min(epoch_ns(CAST(ts AS TIMESTAMP))) AS min_ts_ns,
             |  max(epoch_ns(CAST(ts AS TIMESTAMP))) AS max_ts_ns
             |FROM events
             |WHERE ts IS NOT NULL AND event_id IS NOT NULL""".stripMargin)),

    QuerySpec(
      "p11_stream_progress",
      "live progress metrics on the CONTINUOUS path (the reference's inserts/sec sampler, index.js:214-225, for writeStream): a bounded stream runs to completion and the StreamingProgressListener's per-query row total — accumulated from the engine's own micro-batch progress events — must equal the source count; rate positivity is asserted in-query",
      (s, dir) => {
        val listener =
          new graft.pipeline.StreamingProgressListener().register(s)
        try {
          val q = Tables.loadStream(s, dir, "events")
            .where(col("event_id").isNotNull)
            .writeStream.format("memory").queryName("p11_mem")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.stop()
          // progress events arrive on the async listener bus
          var tries = 0
          while (listener.snapshot().get("p11_mem").isEmpty && tries < 100) {
            Thread.sleep(100); tries += 1
          }
          val (rows, rate) = listener.snapshot()("p11_mem")
          require(rate > 0.0, s"rows/sec must be positive, got $rate")
          require(listener.lastRate("p11_mem").exists(_ > 0.0),
            "engine per-batch rate missing")
          import s.implicits._
          Seq(rows).toDF("rows_seen")
        } finally listener.unregister(s)
      },
      Some("""SELECT count(*) AS rows_seen FROM events
             |WHERE event_id IS NOT NULL""".stripMargin)),

    QuerySpec(
      "p12_resume_migrate",
      "resumable migration (no reference counterpart — re-running index.js re-writes everything): completion markers land AFTER each table's append; the crash is simulated in the WORST window (data fully appended, marker not yet written), resume re-migrates ONLY that table (asserted) as truncate-then-rewrite, and the sink holds exactly one copy — a bare append here would double-count",
      (s, dir) => {
        val sinkDir = tempSinkDir()
        val sink = new ParquetSink(sinkDir)
        val quiet = PipelineConfig(logging = false)
        Pipeline.migrate(s, dir, sink, config = quiet)
        // Simulate the worst crash window: append() completed (data is all
        // there) but the process died before markDone. Only the marker is
        // deleted — resume must truncate-then-rewrite, not append a second
        // copy on top of the orphaned data.
        graft.pipeline.SinkFiles.deleteRecursive(s"$sinkDir/_done_events")
        val resumed = Pipeline.migrate(s, dir, sink,
          config = quiet.copy(resume = true))
        val rows = resumed.collect()
        require(rows.length == 1 && rows(0).getString(0) == "events",
          s"resume must re-migrate ONLY the lost table, got ${rows.toSeq}")
        val n = s.read.parquet(s"$sinkDir/events").count()
        resumed.withColumn("n_in_sink", lit(n))
      },
      Some("""SELECT 'events' AS table_name, count(ts) AS written,
             |  count(*) - count(ts) AS skipped,
             |  CAST(count(ts) * 100 AS DOUBLE) / count(*) AS success_rate,
             |  count(ts) AS n_in_sink
             |FROM events""".stripMargin)),

    QuerySpec(
      "p13_manifest_migrate",
      "MANIFEST-BACKED migration sink — the reference pipeline composed with the durable segment tier: the reference re-migrates by FULL RESCAN + rewrite (its only delta story is truncate-everything, index.js:186-198, 321-336; p07/p12 reproduce that contract), where a standing deployment wants O(delta) — so here each migration run lands as an immutable SEGMENT of a per-series manifest family and a re-migration writes ONLY the source rows not yet in the sink. Day 1 migrates the base slice as one segment/generation; day 2's re-migration DISCOVERS its delta against the already-migrated sink itself (left_anti on the row identity — the l56 incremental-dedup shape lifted to the pipeline level; the sink side is the bucketed single-segment registration, so at 100 TB the anti-join co-locates on the sink's bucket key instead of shuffling the corpus) and publishes base segments + one delta segment under the grown corpus's fingerprint — one create-if-absent marker, zero data movement. Retention is vacuumKeepLatest: the base GENERATION retires while its SEGMENT stays pinned through the kept child manifest (reachability, the s15 contract). Gates, in-query and hash-enforced: (1) O(delta) WRITE on the sink — the published manifest is exactly base + one delta and the base segment's files are path+length+mtime-untouched (Gates.writeODeltaOk, the l131 discipline); (2) retention pinned the base segment while retiring its generation with zero debris; (3) the sink serves the FULL union from disk with a TOMBSTONED build body (rows match the oracle only if the persisted segments served). Census = base/delta row counts + union aggregate invariants over the served sink",
      (s, dir) => QuerySpec.withScratchStoreRoot(s) { (s, _) =>
        val ds = graft.operators.DurableStore
        val fam = "mig_events"
        // bucketed on the row identity: the re-migration's anti-join
        // and any downstream point lookup co-locate on event_id
        val parts = Seq(ds.Part("events", Some("event_id")))
        try {
          val src = Tables.load(s, dir, "events")
            .where(col("ts").isNotNull && col("event_id").isNotNull)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("ts").as("time"))
          val base = src.where(col("event_id") % 5 =!= 0)
          val hashCols =
            Seq("event_id", "user_id", "event_type", "value", "time")
          val baseFp = ds.frameFingerprint(base, hashCols)
          val newFp = ds.frameFingerprint(src, hashCols)
          // day 1: the base migration — one segment, one generation
          ds.loadOrBuildBase(s, fam, baseFp, parts)(Map("events" -> base))
          val segsBase = ds.manifestSegments(s, fam, baseFp)
          val statsBefore = Gates.manifestStats(s, fam, baseFp)
          // day 2: the source grew; the re-migration discovers its
          // delta against the SINK (not a source-side split — the sink
          // is the standing truth a real migrator diffs against) and
          // writes only those rows
          val migrated = ds.manifestTables(s, fam, baseFp,
            parts)("events")
          val newRows = src.join(migrated.select(col("event_id")),
            Seq("event_id"), "left_anti")
          ds.loadOrBuildAppend(s, fam, baseFp, newFp, parts)(
            Map("events" -> newRows))
          val odeltaOk = Gates.writeODeltaOk(s, fam, baseFp, newFp,
            statsBefore)
          // retention: keep the newest generation; the base generation
          // retires but its segment is pinned through the kept child
          val rep = ds.vacuumKeepLatest(s, fam, 1)
          val pinnedOk = rep.stale == Seq(baseFp) &&
            rep.debris.isEmpty &&
            !ds.isBuilt(s, fam, baseFp) &&
            segsBase.forall(g => ds.segmentComplete(s, fam, g))
          // the sink serves the union from disk (tombstone build body)
          val served = ds.loadOrBuildManifest(s, fam, newFp, parts)(
            sys.error("published migration sink rebuilt"))("events")
          served.agg(count(lit(1)).as("written"),
              sum(col("event_id")).as("sum_id"),
              countDistinct(col("user_id")).as("n_users"))
            // one-row scalar attach of the base/delta census (the l56
            // one-row-x-one-row shape; the frame below is checkpointed
            // before returning — the temp store root is deleted)
            .crossJoin(broadcast(src.agg(
              count(when(col("event_id") % 5 =!= 0, 1)).as("n_base"),
              count(when(col("event_id") % 5 === 0, 1)).as("n_delta"))))
            .select(col("n_base"), col("n_delta"), col("written"),
              col("sum_id"), col("n_users"),
              lit(odeltaOk).as("write_odelta_ok"),
              lit(pinnedOk).as("retention_pinning_ok"))
            .localCheckpoint(eager = true)
        } finally {
          // drop the seg-keyed registrations against the deleted root
          val pfx = s"graft_store_${fam}_".toLowerCase
          s.catalog.listTables().collect().map(_.name)
            .filter(_.toLowerCase.startsWith(pfx))
            .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        }
      },
      Some("""SELECT
             |  count(CASE WHEN event_id % 5 <> 0 THEN 1 END) AS n_base,
             |  count(CASE WHEN event_id % 5 = 0 THEN 1 END) AS n_delta,
             |  count(*) AS written,
             |  CAST(sum(event_id) AS BIGINT) AS sum_id,
             |  count(DISTINCT user_id) AS n_users,
             |  TRUE AS write_odelta_ok, TRUE AS retention_pinning_ok
             |FROM events
             |WHERE ts IS NOT NULL AND event_id IS NOT NULL""".stripMargin))
  )
}
