package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Structured Streaming ops driven by MemoryStream: results must equal the
  * batch faces on the same data (processing-time-independent), and the
  * watermark must drop late rows — the streaming analogue of the
  * reference's skip-don't-fail time rule.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingOpsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(1, ts("2024-01-01 00:10:00"), 1, "a", 1.0),
    Ev(2, ts("2024-01-01 00:20:00"), 1, "a", 2.0),
    Ev(3, ts("2024-01-01 01:10:00"), 2, "b", 3.0),
    Ev(4, ts("2024-01-01 01:40:00"), 2, "b", 4.0),
    Ev(5, ts("2024-01-01 03:00:00"), 1, "a", 5.0))

  private def runStream(name: String,
      plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      batches: Seq[Seq[Ev]],
      mode: String = "append",
      s: org.apache.spark.sql.SparkSession = spark): Array[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = s.sqlContext
    val stream = MemoryStream[Ev]
    val q = plan(stream.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      s.table(name).collect()
    } finally q.stop()
  }

  test("StreamingProgressListener: per-query rows and rates from progress events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new graft.pipeline.StreamingProgressListener().register(spark)
    try {
      val stream = MemoryStream[Ev]
      val q = stream.toDF()
        .writeStream.format("memory").queryName("prog_probe")
        .outputMode("append").start()
      try {
        stream.addData(events.take(3)); q.processAllAvailable()
        stream.addData(events.drop(3)); q.processAllAvailable()
      } finally q.stop()
      // progress events arrive on the async listener bus — wait for them
      var tries = 0
      while (listener.snapshot().get("prog_probe").forall(_._1 < 5) &&
          tries < 50) { Thread.sleep(100); tries += 1 }
      val (rows, rate) = listener.snapshot()("prog_probe")
      assert(rows === 5, s"expected 5 rows, got $rows")
      assert(rate > 0.0)
      assert(listener.lastRate("prog_probe").exists(_ > 0.0))
      listener.reset("prog_probe")
      assert(!listener.snapshot().contains("prog_probe"))
    } finally listener.unregister(spark)
  }

  test("tumblingAgg (complete mode) equals the batch tumbling aggregate") {
    import spark.implicits._
    val got = runStream("t_tumble", StreamingOps.tumblingAgg(_),
      Seq(events.take(3), events.drop(3)), mode = "complete")
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val exp = events.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .select(col("window.start"), col("event_type"), col("n"), col("s"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === exp)
  }

  test("watermark drops a too-late row (skip, don't fail)") {
    // Batch 1 advances the watermark to 03:00 - 1h = 02:00; the straggler
    // at 00:30 is behind it and must be dropped from the appended results.
    val straggler = Ev(6, ts("2024-01-01 00:30:00"), 1, "a", 100.0)
    val got = runStream("t_late", StreamingOps.tumblingAgg(_),
      Seq(events, Seq(straggler), Seq(Ev(7, ts("2024-01-01 06:00:00"), 1, "a", 0.0))),
      mode = "append")
    val hourZero = got.filter(_.getTimestamp(0) == ts("2024-01-01 00:00:00"))
    assert(hourZero.length === 1)
    assert(hourZero(0).getLong(2) === 2, "late row must not be counted")
  }

  test("sessionAgg merges events within the gap into one session") {
    val got = runStream("t_sess", StreamingOps.sessionAgg(_),
      Seq(events, Seq(Ev(8, ts("2024-01-01 08:00:00"), 9, "z", 0.0))),
      mode = "append")
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3)))
    // user 1: events at 00:10/00:20 -> one 2-event session (03:00 is its own,
    // maybe not yet emitted); user 2: 01:10/01:40 -> one 2-event session.
    assert(got.contains((1L, ts("2024-01-01 00:10:00"), 2L)))
    assert(got.contains((2L, ts("2024-01-01 01:10:00"), 2L)))
  }

  test("enrich: stream-static left join attaches dimension values per batch") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val got = runStream("t_enrich",
      df => StreamingOps.enrich(df, dim, Seq("user_id")),
      Seq(events.take(3)), mode = "append")
    val byId = got.map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(byId(1L) === "gold" && byId(2L) === "silver")
  }

  test("runningTotals: custom mapGroupsWithState keeps per-key state across batches") {
    val got = runStream("t_state",
      df => StreamingOps.runningTotals(df, "user_id", "value"),
      Seq(events.take(2), events.drop(2)), mode = "update")
    // last update per key wins
    val finalByKey = got.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    assert(finalByKey(1L) === ((3L, 8.0))) // events 1,2 then 5: 1+2+5
    assert(finalByKey(2L) === ((2L, 7.0))) // events 3,4: 3+4
  }

  test("tumblingAgg under the RocksDB state store (the spill-to-disk backend for 100 TB-scale state)") {
    val got = Engine.scoped(spark, Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      s => runStream("t_rocks", StreamingOps.tumblingAgg(_),
        Seq(events.take(3), events.drop(3)), mode = "complete", s = s)
    }.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // identical result to the default (HDFS-backed) provider
    assert(got.contains((ts("2024-01-01 00:00:00"), "a", 2L)))
    assert(got.contains((ts("2024-01-01 01:00:00"), "b", 2L)))
    assert(got.contains((ts("2024-01-01 03:00:00"), "a", 1L)))
  }

  test("intervalJoin: stream-stream pairs match the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    def side(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(col("event_id").as(s"${p}id"), col("user_id").as(s"${p}uid"),
        col("ts").as(s"${p}ts"))
    val q = StreamingOps.intervalJoin(
        side(stream.toDF(), "a_"), side(stream.toDF(), "b_"),
        leftKey = "a_uid", rightKey = "b_uid",
        leftTime = "a_ts", rightTime = "b_ts",
        lookback = "1 hour")
      .select(col("a_id"), col("b_id"))
      .writeStream.format("memory").queryName("t_ssjoin")
      .outputMode("append").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      val got = spark.table("t_ssjoin").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = events.toDF()
      val exp = side(batch, "a_").join(side(batch, "b_"),
          expr("a_uid = b_uid AND b_ts >= a_ts - INTERVAL 1 HOUR AND b_ts < a_ts"))
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(got === exp)
      assert(exp.contains((2L, 1L))) // 00:20 sees 00:10 for user 1
    } finally q.stop()
  }

  test("intervalJoin left_outer: null row emits only after the watermark closes its horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    def side(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(col("event_id").as(s"${p}id"), col("user_id").as(s"${p}uid"),
        col("ts").as(s"${p}ts"))
    val q = StreamingOps.intervalJoin(
        side(stream.toDF(), "a_"), side(stream.toDF(), "b_"),
        leftKey = "a_uid", rightKey = "b_uid",
        leftTime = "a_ts", rightTime = "b_ts",
        joinType = "left_outer")
      .select(col("a_id"), col("b_id"))
      .writeStream.format("memory").queryName("t_ssjoin_outer")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has a pair (2 sees 1); user 2's rows (3, 4) have
      // no predecessor pair yet; watermark after batch 1 = 03:00 - 1h =
      // 02:00, which closes the horizon for rows 1-4 but not row 5
      stream.addData(events)
      q.processAllAvailable()
      val got1 = spark.table("t_ssjoin_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(got1.contains((2L, 1L)), "matched pair emits on match")
      assert(got1.contains((1L, -1L)) && got1.contains((3L, -1L)),
        "closed-horizon unmatched rows must null-emit")
      assert(!got1.exists(_._1 == 5L),
        "row inside the watermark horizon must NOT emit yet")
      // batch 2: advance the watermark past row 5's horizon — its
      // unmatched null row must now appear
      stream.addData(Seq(Ev(6, ts("2024-01-01 05:00:00"), 9, "z", 0.0)))
      q.processAllAvailable()
      val got2 = spark.table("t_ssjoin_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(got2.contains((5L, -1L)),
        "watermark advance must flush the held unmatched row")
    } finally q.stop()
  }

  test("dedupStream keeps first occurrence within the watermark") {
    val dup = Ev(1, ts("2024-01-01 00:10:00"), 1, "a", 999.0) // same event_id
    val got = runStream("t_dedup",
      df => StreamingOps.dedupStream(df, Seq("event_id")),
      Seq(events.take(2), Seq(dup)), mode = "append")
    assert(got.length === 2)
    assert(got.find(_.getLong(0) == 1L).get.getDouble(4) === 1.0)
  }

  test("multi-batch file stream: t12's max-per-key invariance and t11's dedup hold across real micro-batches") {
    // The fixture tables are single parquet files, so AvailableNow runs
    // ONE micro-batch and never exercises cross-batch state. Here the
    // source is three files + maxFilesPerTrigger=1 -> three real
    // batches, validating the claims the driver-graded queries rely on.
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_multibatch_").toString
    (0 until 3).foreach { b =>
      (1 to 20).map(i => (i.toLong % 5, ts("2024-01-01 00:00:00"), i.toLong))
        .toDF("user_id", "ts", "event_id")
        .coalesce(1).write.parquet(s"$srcDir/b$b.parquet")
    }
    val schema = spark.read.parquet(s"$srcDir/b0.parquet").schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*.parquet")
    // t12 claim: per-key counts are monotone across batches, so
    // max-per-key over Update emissions equals the global count
    val totals = {
      val q = StreamingOps.runningTotals(
          stream().withColumn("value", lit(1.0)), "user_id", "value")
        .writeStream.format("memory").queryName("mb_totals")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); q.stop()
      spark.table("mb_totals")
    }
    val emissionsPerKey = totals.groupBy("key").count()
      .collect().map(_.getLong(1))
    assert(emissionsPerKey.forall(_ === 3L),
      "each key must emit once per micro-batch")
    val maxPerKey = totals.groupBy("key")
      .agg(max("n_events").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(maxPerKey.values.forall(_ === 12L), s"got $maxPerKey") // 60 rows / 5 keys
    // t11 claim: with a watermark covering the span, dedup state
    // survives across batches (no re-emission of a key seen earlier)
    val deduped = {
      val q = StreamingOps.dedupStream(stream(), Seq("user_id"),
          lateness = "90 days")
        .writeStream.format("memory").queryName("mb_dedup")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); q.stop()
      spark.table("mb_dedup")
    }
    assert(deduped.count() === 5L, "one survivor per user across all batches")
  }

  test("annTopKState: displacement top-k is chop- and order-independent, ties broken on c_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // scores collide across candidates (c*7 mod 13), so the c_id
    // tie-break is genuinely exercised
    val rows = for { q <- 1L to 2L; c <- 1L to 20L }
      yield (q, c, (c * 7 % 13).toDouble / 13.0)
    def run(name: String, batches: Seq[Seq[(Long, Long, Double)]])
        : Map[Long, Seq[(Double, Long)]] = {
      val stream = MemoryStream[(Long, Long, Double)]
      val q = StreamingOps.annTopKState(
          stream.toDF().toDF("q_id", "c_id", "pq_cos"), k = 5)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
        spark.table(name).groupBy(col("q_id"))
          .agg(max_by(col("topk"), col("n_seen")).as("topk"))
          .as[(Long, Seq[(Double, Long)])].collect().toMap
      } finally q.stop()
    }
    val oneShot = run("ann_one", Seq(rows))
    val chopped = run("ann_chop",
      Seq(rows.take(9), rows.slice(9, 10), rows.drop(10)))
    val reversed = run("ann_rev", Seq(rows.reverse))
    assert(oneShot === chopped, "micro-batch chop changed the top-k")
    assert(oneShot === reversed, "arrival order changed the top-k")
    // reference: plain Scala sort by (score desc, c_id asc), take 5
    val want = rows.groupBy(_._1).view.mapValues(
      _.map(r => (r._3, r._2)).sortBy(p => (-p._1, p._2)).take(5).toSeq)
      .toMap
    assert(oneShot === want)
  }

  test("quotaAdmission: batch-chop- and order-independent, equals the batch quota sample") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 30L).map(i => (i, s"doc body $i", s"s${i % 3}"))
    def runQuota(name: String, batches: Seq[Seq[(Long, String, String)]])
        : Map[String, (Long, Long, Long)] = {
      val stream = MemoryStream[(Long, String, String)]
      val q = StreamingOps.quotaAdmission(
          stream.toDF().toDF("doc_id", "text", "source"),
          "source", "doc_id", "text", quota = 4)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
        // drained answer: the emission with max n_seen per stratum
        spark.table(name).groupBy(col("stratum"))
          .agg(max(struct(col("n_seen"), col("n_admitted"),
            col("fp_threshold"))).as("f"))
          .select(col("stratum"), col("f.n_seen"), col("f.n_admitted"),
            col("f.fp_threshold"))
          .collect()
          .map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      } finally q.stop()
    }
    val oneShot = runQuota("quota_one", Seq(docs))
    val chopped = runQuota("quota_chop",
      Seq(docs.take(7), docs.slice(7, 8), docs.drop(8)))
    val reversed = runQuota("quota_rev", Seq(docs.reverse.take(13),
      docs.reverse.drop(13)))
    assert(oneShot === chopped, "micro-batch chop changed the final state")
    assert(oneShot === reversed, "arrival order changed the final state")
    // and the streaming threshold equals the batch quotaSample's quota-th fp
    val batch = graft.operators.TextAnalysis.quotaSample(
        docs.toDF("doc_id", "text", "source"),
        "doc_id", "text", "source", quota = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val batchKth = batch.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(_._3).max)).toMap
    assert(oneShot.view.mapValues(v => (v._2, v._3)).toMap === batchKth)
    assert(oneShot.values.forall(_._1 === 10L), "each stratum saw 10 docs")
  }
}
