package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Skew
import graft.sources.{Bucketing, SchemaMerge}

/** The explicit 100×-scale levers (salting, bucketing, ragged-schema
  * merge), registered as driver-graded queries whose oracle is the PLAIN
  * formulation: each lever must be result-preserving, bit-for-bit, or it
  * is not a lever but a bug. (Unit tests in ScaleToolsSpec/SourcesSpec
  * check mechanics — no-Exchange plans, type-conflict errors; these
  * specs make the equivalence visible to the driver's DuckDB compare.)
  */
object ScaleQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "s01_salted_agg",
      "two-stage salted aggregation (16 salt buckets off l_orderkey) over lineitem grouped by l_returnflag — the hot-key lever; must hash-match the plain one-stage group-by (oracle). Decimal partials keep the re-aggregation exact.",
      (s, dir) => Skew.saltedAgg(
        Tables.load(s, dir, "lineitem"),
        key = col("l_returnflag"),
        saltFrom = col("l_orderkey"),
        saltBuckets = 16,
        partial = Seq(
          sum(col("l_quantity").cast(DecimalType(18, 4))).as("__p_sum"),
          count(lit(1)).as("__p_n")),
        merge = Seq(
          sum(col("__p_sum")).cast("double").as("sum_qty"),
          sum(col("__p_n")).as("n"))),
      Some("""SELECT l_returnflag AS key,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QuerySpec(
      "s02_bucketed_join",
      "bucketed co-located join: customer and orders pre-bucketed+sorted on custkey, joined with broadcast disabled — the join stage must plan with ZERO Exchange (asserted in-query) and the result must hash-match the plain join (oracle)",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_totalprice"))
        // Idempotence across JVMs: DROP TABLE clears this session's
        // in-memory catalog, but a previous run's managed-table LOCATION
        // survives on disk and saveAsTable refuses it
        // (LOCATION_ALREADY_EXISTS) — remove stray locations too.
        val warehouse = s.conf.get("spark.sql.warehouse.dir")
        Seq("graft_s02_cust", "graft_s02_ord").foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          graft.pipeline.SinkFiles.deleteRecursive(s"$warehouse/$t")
        }
        Bucketing.writeBucketed(cust, "graft_s02_cust", "custkey", 8,
          sortCol = Some("custkey"))
        Bucketing.writeBucketed(ord, "graft_s02_ord", "custkey", 8,
          sortCol = Some("custkey"))
        // bucketedJoin hints a sort-merge join, so the no-Exchange
        // assertion exercises the shuffle path bucketing is meant to
        // eliminate (a broadcast join would carry a BroadcastExchange).
        val joined = Bucketing.bucketedJoin(
          s, "graft_s02_cust", "graft_s02_ord", "custkey")
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"bucketed join should not shuffle:\n$plan")
        // The aggregate on top shuffles on c_mktsegment as usual — the
        // lever removes the JOIN's two fact-table exchanges, not the
        // final small-cardinality agg.
        joined.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            QuerySpec.decSum(col("o_totalprice")).as("sum_price"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_mktsegment""".stripMargin)),

    QuerySpec(
      "s03_schema_merge",
      "ragged-schema union (union-of-fields, null-fill — SURVEY §7.4's schemaless-Mongo hard part): three different column subsets of customer re-merged; oracle = explicit null-filled UNION ALL",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        SchemaMerge.unionRagged(Seq(
          c.where(col("c_custkey") % 3 === 0)
            .select(col("c_custkey"), col("c_name")),
          c.where(col("c_custkey") % 3 === 1)
            .select(col("c_custkey"), col("c_acctbal")),
          c.where(col("c_custkey") % 3 === 2)
            .select(col("c_custkey"), col("c_name"), col("c_nationkey"))))
      },
      Some("""SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal,
             |  CAST(NULL AS INTEGER) AS c_nationkey
             |FROM customer WHERE c_custkey % 3 = 0
             |UNION ALL
             |SELECT c_custkey, CAST(NULL AS VARCHAR), c_acctbal,
             |  CAST(NULL AS INTEGER)
             |FROM customer WHERE c_custkey % 3 = 1
             |UNION ALL
             |SELECT c_custkey, c_name, CAST(NULL AS DOUBLE), c_nationkey
             |FROM customer WHERE c_custkey % 3 = 2""".stripMargin)),

    QuerySpec(
      "s04_salted_join",
      "salted equi-join (8 salt buckets, right side replicated): lineitem x part on partkey then brand rollup — the hot-join-key lever; must hash-match the plain join (oracle)",
      (s, dir) => Skew.saltedJoin(
          Tables.load(s, dir, "lineitem"), "l_partkey", col("l_orderkey"),
          Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          "p_partkey", 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          QuerySpec.decSum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT p_brand, count(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin)),

    QuerySpec(
      "s05_partitioned_sink",
      "time-partitioned sink layout: events migrated into a date-partitioned series, read back with a one-day filter that must prune at the partition level (asserted in-query via PartitionFilters); aggregate checked against the source-table oracle",
      (s, dir) => {
        val sinkDir =
          QuerySpec.tempSinkDir()
        val sink = new graft.pipeline.ParquetSink(sinkDir,
          partitionCols = Seq("p_date"))
        val e = ParityQueries.prepare(Tables.load(s, dir, "events"))
          .where(col("time").isNotNull)
          .withColumn("p_date", to_date(col("time")))
        sink.append(e, "events")
        val rd = s.read.parquet(s"$sinkDir/events")
          .where(col("p_date") === to_date(lit("2024-01-15")))
        val plan = rd.queryExecution.executedPlan.toString
        require(plan.contains("PartitionFilters: [") &&
          !plan.replace(" ", "").contains("PartitionFilters:[]"),
          s"date filter must prune partitions:\n$plan")
        rd.agg(count(lit(1)).as("n"),
          QuerySpec.decSum(col("value"), 6).as("sum_value"))
      },
      Some("""SELECT count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE ts IS NOT NULL AND CAST(ts AS DATE) = DATE '2024-01-15'""".stripMargin)),

    QuerySpec(
      "s06_compact_retain",
      "sink maintenance end-to-end: date-partitioned migrate -> small-file compaction of one partition (asserted fewer files) -> retention drop of days before 2024-01-16 (partition delete, no rewrite) -> remaining aggregate checked against the source oracle",
      (s, dir) => {
        val base =
          QuerySpec.tempSinkDir()
        val sink = new graft.pipeline.ParquetSink(base,
          partitionCols = Seq("p_date"))
        sink.append(
          ParityQueries.prepare(Tables.load(s, dir, "events"))
            .where(col("time").isNotNull)
            .withColumn("p_date", to_date(col("time")))
            .repartition(8), // force several files per partition
          "events")
        val (nBefore, nAfter) = graft.pipeline.Maintenance.compactParquet(
          s, s"$base/events/p_date=2024-01-20")
        require(nBefore > nAfter && nAfter == 1,
          s"compaction must shrink files: $nBefore -> $nAfter")
        graft.pipeline.Maintenance.dropPartitionsBelow(
          s"$base/events", "p_date", cutoff = "2024-01-16")
        s.read.parquet(s"$base/events")
          .agg(count(lit(1)).as("n"),
            QuerySpec.decSum(col("value"), 6).as("sum_value"))
      },
      Some("""SELECT count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE ts IS NOT NULL AND CAST(ts AS DATE) >= DATE '2024-01-16'""".stripMargin)),

    QuerySpec(
      "s07_upsert",
      "last-writer-wins upsert (the incremental re-migration the reference can only do as full rewrite): a changed-rows batch (every 10th event, value+1000, ts+1h) merges into the base keyed by event_id versioned by ts; one shuffle on the key",
      (s, dir) => {
        val base = Tables.load(s, dir, "events")
          .where(col("event_id").isNotNull)
        val updates = base.where(col("event_id") % 10 === 0)
          .withColumn("value", col("value") + 1000)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
        graft.pipeline.Maintenance.upsert(
          base, updates, Seq("event_id"), "ts")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, event_type, value, props,
             |    CAST(ts AS TIMESTAMP) AS ts, 0 AS src
             |  FROM events WHERE event_id IS NOT NULL),
             |u AS (
             |  SELECT event_id, user_id, event_type, value + 1000 AS value,
             |    props, CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS ts, 1 AS src
             |  FROM events
             |  WHERE event_id IS NOT NULL AND event_id % 10 = 0),
             |m AS (SELECT * FROM b UNION ALL SELECT * FROM u),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY event_id
             |    ORDER BY ts DESC NULLS LAST, src DESC) AS rk FROM m)
             |SELECT event_id, ts, user_id, event_type, value, props
             |FROM r WHERE rk = 1""".stripMargin)),

    QuerySpec(
      "s08_zorder_layout",
      "Z-order (Morton) layout key over (user_id, day): per z-range bucket, the (user, day) bounding box — each bucket covers a small rectangle in BOTH dimensions, the property that lets min/max file stats prune scans on either one; codegen'd bit-interleave expression, integer-exact oracle",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id").cast("long").as("x"),
            datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
              .cast("long").as("y"))
          .where(col("y") >= 0 && col("x") < 65536 && col("y") < 65536)
        e.select(col("x"), col("y"),
            graft.functions.LayoutFunctions.zorder16(col("x"), col("y"))
              .as("z"))
          .groupBy(expr("z div 1024").as("z_bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("min_user"), max(col("x")).as("max_user"),
            min(col("y")).as("min_day"), max(col("y")).as("max_day"))
      },
      Some("""WITH e AS (
             |  SELECT CAST(user_id AS BIGINT) AS x,
             |    CAST(date_diff('day', DATE '2024-01-01',
             |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS y
             |  FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |f AS (SELECT x, y FROM e
             |      WHERE y >= 0 AND x < 65536 AND y < 65536),
             |z AS (
             |  SELECT x, y,
             |    list_reduce([((x >> k) & 1) * (CAST(1 AS BIGINT) << (2*k))
             |        + ((y >> k) & 1) * (CAST(1 AS BIGINT) << (2*k + 1))
             |      for k in range(0, 16)], (a, b) -> a + b) AS z
             |  FROM f)
             |SELECT z // 1024 AS z_bucket, count(*) AS n,
             |  min(x) AS min_user, max(x) AS max_user,
             |  min(y) AS min_day, max(y) AS max_day
             |FROM z GROUP BY 1""".stripMargin)),

    QuerySpec(
      "s09_skew_probe",
      "pre-join skew probe — the diagnostic run BEFORE choosing salting/AQE settings: per-key group-size distribution of the join key (key count, total rows, max/avg group size, skew factor = max/avg, and the top heavy-hitter key). Two tiny map-side-combinable aggregates; nothing wide beyond the key count itself",
      (s, dir) => {
        val g = Tables.load(s, dir, "events")
          .where(col("user_id").isNotNull)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        g.agg(
            count(lit(1)).as("n_keys"),
            sum(col("n")).as("total_rows"),
            max(col("n")).as("max_group"),
            (sum(col("n")).cast("double") / count(lit(1))).as("avg_group"),
            // heaviest key, ties to smallest key — the row you'd salt
            max(struct(col("n"), (-col("user_id")).as("negk"))).as("m"))
          .select(col("n_keys"), col("total_rows"), col("max_group"),
            col("avg_group"),
            (col("max_group").cast("double") / col("avg_group"))
              .as("skew_factor"),
            (-col("m.negk")).as("top_key"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, count(*) AS n FROM events
             |  WHERE user_id IS NOT NULL GROUP BY user_id)
             |SELECT count(*) AS n_keys,
             |  CAST(sum(n) AS BIGINT) AS total_rows,
             |  max(n) AS max_group,
             |  CAST(sum(n) AS DOUBLE) / count(*) AS avg_group,
             |  CAST(max(n) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) / count(*))
             |    AS skew_factor,
             |  (SELECT user_id FROM g ORDER BY n DESC, user_id LIMIT 1)
             |    AS top_key
             |FROM g""".stripMargin)),

    QuerySpec(
      "s10_dynamic_pruning",
      "dynamic partition pruning — the star-schema scale lever: fact (date-partitioned sink) joined to a filtered dim whose qualifying dates are only known at RUN time, so the fact scan must prune via the broadcast-fed dynamicpruning subquery (asserted in-plan), never read all partitions; aggregate checked against the source-table oracle",
      (s, dir) => {
        val sinkDir =
          QuerySpec.tempSinkDir()
        val sink = new graft.pipeline.ParquetSink(sinkDir,
          partitionCols = Seq("p_date"))
        sink.append(
          ParityQueries.prepare(Tables.load(s, dir, "events"))
            .where(col("time").isNotNull)
            .withColumn("p_date", to_date(col("time"))),
          "events")
        // dim: the qualifying dates (first week of each month) — the
        // predicate is on a NON-partition dim attribute, so static
        // pruning is impossible and the fact scan must wait for the
        // dim's runtime row set
        val dim = Tables.load(s, dir, "events")
          .where(col("ts").isNotNull)
          .select(to_date(col("ts")).as("d_date"),
            dayofmonth(to_date(col("ts"))).as("dom"))
          .distinct()
          .where(col("dom") <= 7)
        val fact = s.read.parquet(s"$sinkDir/events")
        val joined = fact.join(broadcast(dim),
            col("p_date") === col("d_date"))
          .agg(count(lit(1)).as("n"),
            QuerySpec.decSum(col("value"), 6).as("sum_value"))
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.toLowerCase.contains("dynamicpruning"),
          s"fact scan must carry a dynamic-pruning subquery:\n$plan")
        joined
      },
      Some("""SELECT count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE ts IS NOT NULL
             |  AND day(CAST(ts AS DATE)) <= 7""".stripMargin)),

    QuerySpec(
      "s11_jsonl_roundtrip",
      "schemaless file-format surface: events written as JSON Lines (the closest file shape to the reference's Mongo documents) and read back with a declared schema — timestamps pinned to an explicit microsecond format on BOTH sides (the default JSON format is ms-grained and would silently truncate), doubles survive via shortest-round-trip rendering; aggregates checked against the source table",
      (s, dir) => {
        val out = QuerySpec.tempSinkDir()
        val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        val src = Tables.load(s, dir, "events")
        src.write.mode("overwrite").option("timestampFormat", tsFmt)
          .json(s"$out/events_json")
        // read back under the SOURCE's own schema — a hand-written schema
        // string would silently drift if the table ever changed shape
        val rd = s.read.schema(src.schema)
          .option("timestampFormat", tsFmt)
          .json(s"$out/events_json")
        val agg = rd.agg(count(lit(1)).as("n"),
          count(col("ts")).as("n_ts"),
          max(col("ts")).as("max_ts"),
          sum(col("event_id")).as("sum_id"),
          QuerySpec.decSum(col("value"), 6).as("sum_value"))
        // the JSON copy is the registry's largest uncompressed sink
        // payload: materialize the 1-row result eagerly, then delete the
        // temp copy instead of leaking it across bench rounds
        val row = agg.collect().toSeq
        graft.pipeline.SinkFiles.deleteRecursive(out)
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(row).asJava),
          agg.schema)
      },
      Some("""SELECT count(*) AS n,
             |  count(ts) AS n_ts,
             |  max(CAST(ts AS TIMESTAMP)) AS max_ts,
             |  CAST(sum(event_id) AS BIGINT) AS sum_id,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events""".stripMargin)),

    QuerySpec(
      "s12_csv_roundtrip",
      "CSV file-format surface: events written with headers and read back under the source schema — the hard part is the JSON props column (embedded commas, quotes) surviving CSV quoting byte-for-byte, proven by a string-length checksum; timestamps µs-pinned as in s11, doubles survive via shortest-round-trip rendering",
      (s, dir) => {
        val out = QuerySpec.tempSinkDir()
        val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        val src = Tables.load(s, dir, "events")
        src.write.mode("overwrite").option("header", "true")
          .option("timestampFormat", tsFmt)
          .csv(s"$out/events_csv")
        val rd = s.read.schema(src.schema)
          .option("header", "true").option("timestampFormat", tsFmt)
          .csv(s"$out/events_csv")
        val agg = rd.agg(count(lit(1)).as("n"),
          count(col("ts")).as("n_ts"),
          max(col("ts")).as("max_ts"),
          sum(col("event_id")).as("sum_id"),
          sum(length(col("props"))).as("props_chars"),
          QuerySpec.decSum(col("value"), 6).as("sum_value"))
        val row = agg.collect().toSeq
        graft.pipeline.SinkFiles.deleteRecursive(out)
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(row).asJava),
          agg.schema)
      },
      Some("""SELECT count(*) AS n,
             |  count(ts) AS n_ts,
             |  max(CAST(ts AS TIMESTAMP)) AS max_ts,
             |  CAST(sum(event_id) AS BIGINT) AS sum_id,
             |  CAST(sum(length(props)) AS BIGINT) AS props_chars,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events""".stripMargin)),

    QuerySpec(
      "s13_orc_roundtrip",
      "columnar-format portability: events written as ORC (the other Hadoop columnar standard — a migration engine meets it as often as parquet) and read back under the source schema; timestamp/long/double/string survive NATIVELY typed (no text-format pinning, unlike s11/s12), proven by the same aggregate contract incl. the props string-length checksum",
      (s, dir) => {
        val out = QuerySpec.tempSinkDir()
        val src = Tables.load(s, dir, "events")
        src.write.mode("overwrite").orc(s"$out/events_orc")
        val rd = s.read.schema(src.schema).orc(s"$out/events_orc")
        val agg = rd.agg(count(lit(1)).as("n"),
          count(col("ts")).as("n_ts"),
          max(col("ts")).as("max_ts"),
          sum(col("event_id")).as("sum_id"),
          sum(length(col("props"))).as("props_chars"),
          QuerySpec.decSum(col("value"), 6).as("sum_value"))
        val row = agg.collect().toSeq
        graft.pipeline.SinkFiles.deleteRecursive(out)
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(row).asJava),
          agg.schema)
      },
      Some("""SELECT count(*) AS n,
             |  count(ts) AS n_ts,
             |  max(CAST(ts AS TIMESTAMP)) AS max_ts,
             |  CAST(sum(event_id) AS BIGINT) AS sum_id,
             |  CAST(sum(length(props)) AS BIGINT) AS props_chars,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events""".stripMargin)),

    QuerySpec(
      "s14_store_vacuum",
      "durable-store retention end-to-end (the s06 maintenance discipline applied to the model-store warehouse): two corpus GENERATIONS publish under a scratch family in a private root, debris is planted (a crashed staging sibling and a marker-less fingerprint dir — exactly what a killed builder leaves), vacuum keeps only generation 2 — and the kept layout must then SERVE a reload whose build body is a poisoned tombstone (it would emit zero rows), so n_kept_rows only matches the oracle if the reload came from the persisted files, the stale generation is gone and both debris classes were swept. Census = kept-generation row count + deterministic debris/stale counts + the gone-assert",
      (s, dir) => QuerySpec.withScratchStoreRoot(s) { (s, root) =>
        val ds = graft.operators.DurableStore
        val parts = Seq(ds.Part("t", None))
        try {
          def gen(fp: String, m: Long) =
            ds.loadOrBuild(s, "vac_demo", fp, parts) {
              Map("t" -> Tables.load(s, dir, "documents")
                .where(col("doc_id") % 10 === m)
                .select(col("doc_id")))
            }
          gen("gen1", 1L)
          gen("gen2", 2L)
          new java.io.File(s"$root/vac_demo/.stage_dead/t").mkdirs()
          new java.io.File(s"$root/vac_demo/genX/t").mkdirs()
          val rep = ds.vacuum(s, "vac_demo", keep = Set("gen2"))
          // reload with a TOMBSTONE body: if vacuum broke the kept
          // layout and this rebuilt, the row count would be 0 and the
          // hash would fail
          val served = ds.loadOrBuild(s, "vac_demo", "gen2", parts) {
            Map("t" -> Tables.load(s, dir, "documents")
              .where(lit(false)).select(col("doc_id")))
          }("t")
          served.agg(count(lit(1)).as("n_kept_rows"))
            .select(col("n_kept_rows"),
              lit(rep.debris.size).as("n_debris"),
              lit(rep.stale.size).as("n_stale"),
              lit(!ds.isBuilt(s, "vac_demo", "gen1")).as("stale_gone_ok"))
            .localCheckpoint(eager = true)
        } finally {
          Seq("gen1", "gen2").foreach(fp =>
            ds.dropRegistered(s, "vac_demo", fp, parts))
        }
      },
      Some("""SELECT count(CASE WHEN doc_id % 10 = 2 THEN 1 END)
             |    AS n_kept_rows,
             |  2 AS n_debris, 1 AS n_stale, TRUE AS stale_gone_ok
             |FROM documents""".stripMargin)),

    QuerySpec(
      "s15_store_vacuum_generations",
      "GENERATION-AWARE retention (s14 proved mechanics with caller-enumerated fingerprints; production wants 'keep the newest N'): markers carry a publish stamp (ts=millis.seq, same-millis ties broken by per-JVM sequence), and vacuumKeepLatest(family, n) keeps the n newest COMPLETE layouts by stamp without the caller naming any fingerprint. Two scratch families in a private root prove the two hard cases end-to-end: (a) a plain family publishes three generations in order — keep-latest-2 must retire exactly the oldest, and the kept newest must then SERVE a reload whose build body is a poisoned tombstone (rows match the oracle only if the files survived); (b) a MANIFEST lineage publishes base and child generations — keep-latest-1 retires the base GENERATION but must PIN the base SEGMENT the kept child manifest still lists (reachability is through surviving manifests, the l131 O(delta) layout's retention contract), while sweeping a planted unreferenced complete segment (stale data) and a marker-less half-written one (debris); the kept child must serve the FULL union from disk with a tombstoned build body. Census = kept-generation row counts + deterministic stale/ordering/pinning gates",
      (s, dir) => QuerySpec.withScratchStoreRoot(s) { (s, root) =>
        val ds = graft.operators.DurableStore
        val parts = Seq(ds.Part("t", None))
        try {
          // (a) plain family: three stamped generations
          def gen(fp: String, m: Long) =
            ds.loadOrBuild(s, "vacgen_plain", fp, parts) {
              Map("t" -> Tables.load(s, dir, "documents")
                .where(col("doc_id") % 10 === m).select(col("doc_id")))
            }
          gen("gen1", 1L); gen("gen2", 2L); gen("gen3", 3L)
          val repA = ds.vacuumKeepLatest(s, "vacgen_plain", 2)
          val orderingOk = repA.stale == Seq("gen1") &&
            ds.isBuilt(s, "vacgen_plain", "gen2") &&
            ds.isBuilt(s, "vacgen_plain", "gen3")
          // the kept newest serves from disk (tombstone build body)
          val servedA = ds.loadOrBuild(s, "vacgen_plain", "gen3", parts) {
            Map("t" -> Tables.load(s, dir, "documents")
              .where(lit(false)).select(col("doc_id")))
          }("t")
          // (b) manifest lineage: base + child generations
          val fam = "vacgen_manifest"
          def slice(m: Long) = Tables.load(s, dir, "documents")
            .where(col("doc_id") % 10 === m).select(col("doc_id"))
          val segBase = ds.writeSegment(s, fam, parts,
            Map("t" -> slice(4L)))
          ds.loadOrBuildManifest(s, fam, "fpBase", parts)(Seq(segBase))
          val segDelta = ds.writeSegment(s, fam, parts,
            Map("t" -> slice(5L)))
          ds.loadOrBuildManifest(s, fam, "fpChild", parts)(
            Seq(segBase, segDelta))
          // plant: an unreferenced COMPLETE segment (a crashed or
          // losing publisher's data — stale) and a marker-less
          // half-written one (debris)
          val orphan = ds.writeSegment(s, fam, parts,
            Map("t" -> slice(6L)))
          new java.io.File(s"$root/$fam/seg_halfwritten/t").mkdirs()
          val repB = ds.vacuumKeepLatest(s, fam, 1)
          val pinningOk = repB.stale.toSet == Set("fpBase", orphan) &&
            repB.debris == Seq("seg_halfwritten") &&
            !ds.isBuilt(s, fam, "fpBase") &&
            ds.segmentComplete(s, fam, segBase)
          // the kept child serves the FULL union from disk
          val servedB = ds.loadOrBuildManifest(s, fam, "fpChild",
            parts)(sys.error(
              "kept manifest rebuilt after vacuumKeepLatest"))("t")
          servedA.agg(count(lit(1)).as("n_kept_rows"))
            .crossJoin(broadcast(
              servedB.agg(count(lit(1)).as("n_union_rows"))))
            .select(col("n_kept_rows"), col("n_union_rows"),
              lit(repA.stale.size).as("n_stale_plain"),
              lit(orderingOk).as("ordering_ok"),
              lit(pinningOk).as("segment_pinning_ok"))
            .localCheckpoint(eager = true)
        } finally {
          Seq("gen1", "gen2", "gen3").foreach(fp =>
            ds.dropRegistered(s, "vacgen_plain", fp, parts))
        }
      },
      Some("""SELECT
             |  count(CASE WHEN doc_id % 10 = 3 THEN 1 END)
             |    AS n_kept_rows,
             |  count(CASE WHEN doc_id % 10 IN (4, 5) THEN 1 END)
             |    AS n_union_rows,
             |  1 AS n_stale_plain, TRUE AS ordering_ok,
             |  TRUE AS segment_pinning_ok
             |FROM documents""".stripMargin)),

    QuerySpec(
      "s16_store_vacuum_grace",
      "WINDOW-FREE retention (s14/s15 prove the mechanics but require a maintenance window — deleting a layout a concurrent reader resolved paths through fails its scans mid-flight): vacuum/vacuumKeepLatest(graceMillis) age-gate the sweep on the SUPERSESSION event, the Delta tombstone-retention discipline — an unkept generation sweeps only once the PUBLISH THAT DISPLACED IT from the retention window (the rank-i-minus-n layout's stamp, never its own) is older than the grace, so a reader that resolved it moments before supersession has the whole grace to drain; unreferenced complete segments age from a TOMBSTONE the first observing sweep plants (a compaction's superseded chain has historical mtimes but becomes unreferenced only at the swap), and half-written debris by mtime — which also protects an in-flight builder's complete-but-unpublished segments (the writeSegment->publishManifest window; publishManifest additionally re-verifies and retracts). Proven end-to-end on a scratch family in a private root: three stamped generations with a wide middle-to-newest stamp gap; a CONCURRENT READER resolves the middle one pre-vacuum; a graced keep-latest-1 (cutoff placed strictly between the middle and newest stamps, computed from the layouts' own stamps, biased low so scheduling delay cannot cross it) retires exactly the oldest — its displacing publish (the middle's) is aged out — while the freshly superseded middle SURVIVES even though its OWN publish stamp is also aged out (the discriminator against the retired publish-stamp gate) and the reader still serves its rows (counted AFTER the sweep); planted fresh in-flight state (one complete unreferenced segment — tombstoned, not deleted — and one half-written marker-less dir) survives the same graced pass; then the grace window closes (grace 0) and the leftovers sweep exactly — middle generation + orphan segment as stale, half-written dir as debris — while the kept newest serves from disk with a tombstoned build body. Census = reader/kept row counts + deterministic sweep gates",
      (s, dir) => QuerySpec.withScratchStoreRoot(s) { (s, root) =>
        val ds = graft.operators.DurableStore
        val fam = "vacgrace"
        val parts = Seq(ds.Part("t", None))
        try {
          def slice(m: Long) = Tables.load(s, dir, "documents")
            .where(col("doc_id") % 10 === m).select(col("doc_id"))
          def gen(fp: String, m: Long) =
            ds.loadOrBuild(s, fam, fp, parts)(Map("t" -> slice(m)))
          gen("genAncient", 1L)
          gen("genOld", 2L)
          // a WIDE stamp gap before the displacing publish: the graced
          // gate below places its cutoff inside this gap, and the gap
          // width (not wall-clock luck) is the scheduling tolerance
          Thread.sleep(1600)
          gen("genNew", 3L)
          // the concurrent reader: paths resolved NOW, pre-vacuum
          // (tombstone body — resolving must not rebuild)
          val reader = ds.loadOrBuild(s, fam, "genOld", parts)(
            sys.error("reader resolution rebuilt"))("t")
          // fresh in-flight builder state: a complete unpublished
          // segment and a half-written marker-less one
          val inflight = ds.writeSegment(s, fam, parts,
            Map("t" -> slice(4L)))
          new java.io.File(s"$root/$fam/seg_halfwritten/t").mkdirs()
          // cutoff strictly between genOld's and genNew's stamps,
          // biased low (delays only push it higher, toward genNew,
          // with ~3/4 of the gap as slack): genAncient's DISPLACING
          // publish (genOld's) is then aged out -> sweeps, while
          // genOld's displacing publish (genNew's) is within grace ->
          // survives, even though genOld's OWN stamp is aged out (the
          // r15 ADVICE discriminator)
          val aMs = ds.publishStampOf(s, fam, "genAncient")._1
          val oMs = ds.publishStampOf(s, fam, "genOld")._1
          val nMs = ds.publishStampOf(s, fam, "genNew")._1
          require(oMs >= aMs && nMs > oMs, "stamp gap fixture is vacuous")
          val grace =
            System.currentTimeMillis() - (oMs + (nMs - oMs) / 4)
          val rep1 = ds.vacuumKeepLatest(s, fam, 1, graceMillis = grace)
          val graceOk = rep1.stale == Seq("genAncient") &&
            rep1.debris.isEmpty &&
            ds.isBuilt(s, fam, "genOld") &&
            ds.segmentComplete(s, fam, inflight) &&
            new java.io.File(s"$root/$fam/seg_halfwritten").exists()
          // the pre-resolved reader still serves AFTER the graced
          // sweep — counted eagerly, before the window closes below
          val nReader = reader.count()
          // the grace window closes: everything superseded sweeps
          val rep2 = ds.vacuumKeepLatest(s, fam, 1)
          val closedOk = rep2.stale.toSet == Set("genOld", inflight) &&
            rep2.debris == Seq("seg_halfwritten") &&
            !ds.isBuilt(s, fam, "genOld") &&
            ds.isBuilt(s, fam, "genNew")
          val served = ds.loadOrBuild(s, fam, "genNew", parts) {
            Map("t" -> Tables.load(s, dir, "documents")
              .where(lit(false)).select(col("doc_id")))
          }("t")
          served.agg(count(lit(1)).as("n_kept_rows"))
            .select(col("n_kept_rows"),
              lit(nReader).as("n_reader_rows"),
              lit(graceOk).as("grace_survive_ok"),
              lit(closedOk).as("window_closed_sweep_ok"))
            .localCheckpoint(eager = true)
        } finally {
          Seq("genAncient", "genOld", "genNew").foreach(fp =>
            ds.dropRegistered(s, fam, fp, parts))
        }
      },
      Some("""SELECT
             |  count(CASE WHEN doc_id % 10 = 3 THEN 1 END)
             |    AS n_kept_rows,
             |  count(CASE WHEN doc_id % 10 = 2 THEN 1 END)
             |    AS n_reader_rows,
             |  TRUE AS grace_survive_ok,
             |  TRUE AS window_closed_sweep_ok
             |FROM documents""".stripMargin)),

    QuerySpec(
      "s17_store_multiwriter_append",
      "OPTIMISTIC MULTI-WRITER APPEND (the composition face the r15 cross-JVM race deliberately left open: there, the losing publisher's delta was DISCARDED — two independent ingesters appending different deltas to one family would silently diverge into sibling fingerprints): the family gains a HEAD pointer (_GRAFT_HEAD.v<k>, content = the fingerprint that IS version k; committing v(k+1) is ONE create-if-absent — the whole CAS, the Delta _delta_log discipline on the marker primitive) and appendManifest runs the commit-retry loop — read head, derive the child fingerprint by COMBINATION (the three fingerprint folds are associative-commutative, so fp(head ∪ delta) needs no scan of the head corpus: O(delta) compute to match the O(delta) write), publish child manifest = head segments ++ delta segment, CAS; a loser re-reads the new head and re-publishes its delta ON TOP. Proven in-query with two genuinely concurrent appender THREADS committing different document slices against one base: whatever the interleaving, the head lands at version 2, BOTH deltas are in the committed line (multiset-exact against base+d2+d3, and the head fingerprint equals the combined union fingerprint — a loser that dropped rows could not forge it), and keep-latest-1 retention (with the automatic head pin) sweeps the intermediate generation while every segment the head lists survives and re-serves from disk. Census = committed-line row count + head version + exactness/commit gates",
      (s, dir) => QuerySpec.withScratchStoreRoot(s) { (s, _) =>
        val ds = graft.operators.DurableStore
        val fam = "mwappend"
        val parts = Seq(ds.Part("t", None))
        def slice(m: Long) = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 10 === m).select(col("doc_id"))
          .localCheckpoint(eager = true)
        val base = slice(1L)
        val d2 = slice(2L)
        val d3 = slice(3L)
        val baseFp = ds.frameFingerprint(base, Seq("doc_id"))
        val segBase = ds.writeSegment(s, fam, parts, Map("t" -> base))
        ds.loadOrBuildManifest(s, fam, baseFp, parts)(Seq(segBase))
        val headInit = ds.initHead(s, fam, baseFp)
        // deltas and their segments are prepared up front on the
        // main thread: the concurrency under test is the COMMIT
        // protocol (child-manifest publish + head CAS), pure file
        // I/O with no Spark jobs inside the racing threads
        val fp2 = ds.frameFingerprint(d2, Seq("doc_id"))
        val fp3 = ds.frameFingerprint(d3, Seq("doc_id"))
        val sg2 = ds.writeSegment(s, fam, parts, Map("t" -> d2))
        val sg3 = ds.writeSegment(s, fam, parts, Map("t" -> d3))
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        def appender(seg: String, fp: String) = new Thread(() =>
          try { ds.appendManifest(s, fam, seg, fp); () }
          catch { case t: Throwable => errs.add(t) })
        val tA = appender(sg2, fp2)
        val tB = appender(sg3, fp3)
        tA.start(); tB.start()
        tA.join(120000); tB.join(120000)
        require(errs.isEmpty,
          s"concurrent append failed: ${errs.peek()}")
        val (vHead, fpHead) = ds.headState(s, fam).getOrElse(
          sys.error("no committed head after the appends"))
        // both deltas are in the committed line whatever the
        // interleaving; a commit that dropped rows could not forge
        // the combined union fingerprint
        val unionFp = ds.combineFingerprints(
          ds.combineFingerprints(baseFp, fp2), fp3)
        val headOk = vHead == 2L && fpHead == unionFp && headInit
        val diff = Gates.mismatches(
            ds.manifestTables(s, fam, fpHead, parts)("t"),
            base.unionAll(d2).unionAll(d3), "n")
          .head().getLong(0)
        // retention: keep-latest-1 + the automatic head pin — the
        // intermediate generation (and a CAS loser's abandoned
        // off-head sibling, when the race collided) sweep; every
        // segment the committed line lists survives and the line
        // re-serves from disk
        ds.vacuumKeepLatest(s, fam, 1)
        ds.manifestTables(s, fam, fpHead, parts)("t")
          .agg(count(lit(1)).as("n_rows"))
          .select(col("n_rows"),
            lit(vHead.toInt).as("head_version"),
            lit(diff == 0L).as("append_exact_ok"),
            lit(headOk).as("head_commit_ok"))
          .localCheckpoint(eager = true)
      },
      Some("""SELECT
             |  count(CASE WHEN doc_id % 10 IN (1, 2, 3) THEN 1 END)
             |    AS n_rows,
             |  2 AS head_version, TRUE AS append_exact_ok,
             |  TRUE AS head_commit_ok
             |FROM documents""".stripMargin)),

    QuerySpec(
      "s18_store_time_travel",
      "HEAD-LINE HISTORY + TIME TRAVEL (the read faces the s17 commit log already paid for: one _GRAFT_HEAD.v<k> file per committed version IS a DESCRIBE HISTORY/VERSION AS OF substrate, no new write-path state): a base and two appendManifest commits build versions 0..2 of a scratch family; headLineage must list exactly those versions with the COMBINED fingerprints the appends committed (the algebra gate — a lineage that dropped or reordered a commit could not forge the fold); manifestTablesAt(v1) serves the line EXACTLY as of version 1 (multiset-exact against base+delta2, the later delta3 invisible — version addressing, not latest-wins); then keep-latest-1 retention with the automatic head pin retires the old versions and the SAME read must fail LOUDLY (a time-travel read may never silently serve a different version — the Delta vacuumed-log trade re-expressed), while the pinned head still serves all three slices. Census = as-of/head row counts + lineage/exactness/loud-failure gates",
      (s, dir) => QuerySpec.withScratchStoreRoot(s) { (s, _) =>
        val ds = graft.operators.DurableStore
        val fam = "timetravel"
        val parts = Seq(ds.Part("t", None))
        def slice(m: Long) = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 10 === m).select(col("doc_id"))
          .localCheckpoint(eager = true)
        val base = slice(1L)
        val fp0 = ds.frameFingerprint(base, Seq("doc_id"))
        val seg0 = ds.writeSegment(s, fam, parts, Map("t" -> base))
        require(ds.publishManifest(s, fam, fp0, Seq(seg0)),
          "base publish lost a race in a private root")
        require(ds.initHead(s, fam, fp0), "head init lost a race")
        def append(m: Long): (Long, String) = {
          val d = slice(m)
          val seg = ds.writeSegment(s, fam, parts, Map("t" -> d))
          ds.appendManifest(s, fam, seg,
            ds.frameFingerprint(d, Seq("doc_id")))
        }
        val (v1, fp1) = append(2L)
        val (v2, fp2) = append(3L)
        val lineageOk = (v1, v2) == (1L, 2L) &&
          ds.headLineage(s, fam) ==
            Seq((0L, fp0), (1L, fp1), (2L, fp2))
        // VERSION AS OF 1: base+delta2, the later delta3 invisible
        val asOf = ds.manifestTablesAt(s, fam, 1L, parts)("t")
        val nAsOf = asOf.count()
        val asOfDiff = Gates.mismatches(asOf,
          slice(1L).unionAll(slice(2L)), "__mm")
          .collect()(0).getLong(0)
        // retention sweeps versions 0/1: the as-of read must fail
        // LOUDLY now, never serve something else
        ds.vacuumKeepLatest(s, fam, 1)
        val sweptLoud =
          try { ds.manifestTablesAt(s, fam, 1L, parts); false }
          catch { case e: RuntimeException =>
            e.getMessage.contains("swept by retention") ||
              e.getMessage.contains("not readable") }
        val head = ds.manifestTablesAt(s, fam, 2L, parts)("t")
        head.agg(count(lit(1)).as("n_head_rows"))
          .select(col("n_head_rows"),
            lit(nAsOf).as("n_asof_rows"),
            lit(lineageOk).as("lineage_ok"),
            lit(asOfDiff == 0L).as("asof_exact_ok"),
            lit(sweptLoud).as("swept_asof_fails_ok"))
          .localCheckpoint(eager = true)
      },
      Some("""SELECT
             |  count(CASE WHEN doc_id % 10 IN (1, 2, 3) THEN 1 END)
             |    AS n_head_rows,
             |  count(CASE WHEN doc_id % 10 IN (1, 2) THEN 1 END)
             |    AS n_asof_rows,
             |  TRUE AS lineage_ok, TRUE AS asof_exact_ok,
             |  TRUE AS swept_asof_fails_ok
             |FROM documents""".stripMargin)),

    QuerySpec(
      "s19_store_cdc_batch",
      "CHANGE CAPTURE, batch face (what the reference can only do by re-scanning the whole source and re-sending it, index.js:186-198 — here the commit log that ingest already writes IS the change feed): over the s18 line (base + two appended commits), changesBetween(0, 2) must return EXACTLY the two appended slices (multiset-exact) while its inputFiles stay entirely inside the two delta segments' dirs — the O(delta) read gate: however large the standing corpus, a change read costs the window's appends; the empty window (2, 2] is an empty frame in the part's schema, not an error; an in-place compaction rewriting the chain (content identical, layout merged) must NOT disturb the window — each appended head file names its commit's delta segment, so windows resolve from the commit log without the superseded manifests and stay multiset-exact for as long as the tombstone-graced old segments survive (the live-tail-through-compaction contract); and once retention actually closes the grace (a grace-0 keep-latest sweep) the SAME window must fail LOUDLY — a change read may serve exactly the window or refuse, never a partial or doubled answer — while the compacted head still serves the full line. Census = changed/head row counts + exactness/delta-only/empty/compaction-survival/loud-failure gates",
      (s, dir) => QuerySpec.withScratchStoreRoot(s) { (s, _) =>
        val ds = graft.operators.DurableStore
        val fam = "cdc_batch"
        val parts = Seq(ds.Part("t", None))
        def slice(m: Long) = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 10 === m).select(col("doc_id"))
          .localCheckpoint(eager = true)
        val base = slice(1L)
        val fp0 = ds.frameFingerprint(base, Seq("doc_id"))
        val seg0 = ds.writeSegment(s, fam, parts, Map("t" -> base))
        require(ds.publishManifest(s, fam, fp0, Seq(seg0)),
          "base publish lost a race in a private root")
        require(ds.initHead(s, fam, fp0), "head init lost a race")
        def append(m: Long): String = {
          val d = slice(m)
          val seg = ds.writeSegment(s, fam, parts, Map("t" -> d))
          ds.appendManifest(s, fam, seg,
            ds.frameFingerprint(d, Seq("doc_id")))._2
        }
        append(2L)
        val fpHead = append(3L)
        val changes = ds.changesBetween(s, fam, 0L, 2L, parts)("t")
        val nChanged = changes.count()
        val cdcDiff = Gates.mismatches(changes,
          slice(2L).unionAll(slice(3L)), "__mm")
          .collect()(0).getLong(0)
        // O(delta) read: every input file lives under a segment the
        // window appended — the base segment is never opened
        val deltaSegs = ds.changedSegments(s, fam, 0L, 2L).toSet
        val deltaOnly = changes.inputFiles.nonEmpty &&
          changes.inputFiles.forall(p =>
            deltaSegs.exists(seg => p.contains(s"/$fam/$seg/")))
        val empty = ds.changesBetween(s, fam, 2L, 2L, parts)("t")
        val emptyOk = empty.count() == 0L &&
          empty.schema.fieldNames.toSeq == Seq("doc_id")
        // compaction merges the chain in place — the window must
        // keep resolving from the commit log, multiset-exact
        ds.compactManifest(s, fam, fpHead, parts)(identity)
        val survived = Gates.mismatches(
          ds.changesBetween(s, fam, 0L, 2L, parts)("t"),
          slice(2L).unionAll(slice(3L)), "__mm")
          .collect()(0).getLong(0) == 0L
        // the grace closes: superseded manifests, head files and
        // the old segments sweep — the window must now refuse
        // loudly, never serve a partial or doubled answer
        ds.vacuumKeepLatest(s, fam, 1)
        val sweptLoud =
          try { ds.changedSegments(s, fam, 0L, 2L); false }
          catch { case e: RuntimeException =>
            e.getMessage.contains("not readable") ||
              e.getMessage.contains(
                "snapshot read of the current head") }
        val head = ds.manifestTables(s, fam, fpHead, parts)("t")
        head.agg(count(lit(1)).as("n_head_rows"))
          .select(col("n_head_rows"),
            lit(nChanged).as("n_changed_rows"),
            lit(cdcDiff == 0L).as("cdc_exact_ok"),
            lit(deltaOnly).as("delta_only_read_ok"),
            lit(emptyOk).as("empty_window_ok"),
            lit(survived).as("cdc_survives_compaction_ok"),
            lit(sweptLoud).as("swept_window_fails_ok"))
          .localCheckpoint(eager = true)
      },
      Some("""SELECT
             |  count(CASE WHEN doc_id % 10 IN (1, 2, 3) THEN 1 END)
             |    AS n_head_rows,
             |  count(CASE WHEN doc_id % 10 IN (2, 3) THEN 1 END)
             |    AS n_changed_rows,
             |  TRUE AS cdc_exact_ok, TRUE AS delta_only_read_ok,
             |  TRUE AS empty_window_ok,
             |  TRUE AS cdc_survives_compaction_ok,
             |  TRUE AS swept_window_fails_ok
             |FROM documents""".stripMargin))
  )
}
