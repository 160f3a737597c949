package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Structured Streaming faces of the engine's time-series operators
  * (SURVEY.md §7.2 M4). Each takes a STREAMING DataFrame (`readStream`)
  * with an event-time column and returns a streaming plan; the batch
  * equivalents live in `graft.queries.TimeSeriesQueries` (t01-t03) and
  * define the expected results the tests check against.
  *
  * The watermark is the streaming analogue of the reference's
  * time-validity rule (index.js:235-239): rows whose event time is
  * missing/too-late are dropped by the engine rather than erroring —
  * there, a null check per row; here, bounded-lateness state eviction.
  *
  * Scale stance: every op below is keyed state over (window|session, key)
  * — Spark partitions state by key across executors, watermarks bound
  * state size, and nothing ever collects to the driver.
  */
object StreamingOps {

  /** Tumbling event-time counts/sums per event_type — streaming face of
    * t01. Late rows beyond `lateness` are dropped (watermark), mirroring
    * the skip-don't-fail contract. `aggs` overrides the aggregate list
    * (e.g. decimal-exact sums for the oracle determinism contract).
    */
  def tumblingAgg(events: DataFrame, lateness: String = "1 hour",
      windowLen: String = "1 hour",
      aggs: Seq[org.apache.spark.sql.Column] =
        Seq(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))): DataFrame = {
    val out = events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
    out.select(col("w.start").as("bucket") +:
      out.columns.filterNot(_ == "w").map(col): _*)
  }

  /** Gap-based sessionization via `session_window` — streaming face of
    * t03 (which composes lag/cumsum windows; streaming uses the native
    * session operator, whose state merges windows within the gap).
    */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "1 hour",
      aggs: Seq[org.apache.spark.sql.Column] =
        Seq(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))): DataFrame = {
    val out = events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
    out.select(col("user_id") +: col("w.start").as("session_start") +:
      col("w.end").as("session_end") +:
      out.columns.filterNot(c => c == "w" || c == "user_id").map(col): _*)
  }

  /** Streaming exact dedup on a key, with watermark-bounded state —
    * the streaming face of `Dedup.exactGroups`' keep-first semantics.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Custom keyed state via `mapGroupsWithState` (the escape hatch when
    * built-in windows can't express the state machine): per key, an
    * ever-running (count, sum) ledger emitted once per micro-batch —
    * the streaming face of the reference's per-collection running
    * written-counter (index.js:214-225). State is one small tuple per
    * key, partitioned across executors. Pass `timeout = Some("1 hour")`
    * to evict idle keys by processing-time timeout (production); note a
    * processing-time timeout makes the engine schedule batches forever,
    * so drain-to-idle test harnesses use `None`.
    */
  def runningTotals(events: DataFrame, keyCol: String, valueCol: String,
      timeout: Option[String] = None): DataFrame = {
    val pairs: Dataset[(Long, Double)] = events
      .select(col(keyCol).cast("long"), col(valueCol).cast("double"))
      .as[(Long, Double)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    implicit val stateEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    implicit val outEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)
    val mode =
      if (timeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    pairs
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](mode) {
        (key: Long, rows: Iterator[(Long, Double)],
            state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, s) = state.get
            state.remove()
            (key, n, s)
          } else {
            val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0
            var s = s0
            rows.foreach { r => n += 1; s += r._2 }
            state.update((n, s))
            timeout.foreach(state.setTimeoutDuration)
            (key, n, s)
          }
      }
      .toDF("key", "n_events", "sum_value")
  }

  /** Stream-static enrichment: the streaming analogue of the per-row
    * prepare transform looking up a dimension — each micro-batch joins
    * against the (broadcastable) static table; no state, no watermark
    * requirement, the static side is re-read per batch.
    */
  def enrich(events: DataFrame, dim: DataFrame, keys: Seq[String],
      joinType: String = "left"): DataFrame =
    events.join(dim, keys, joinType)

  /** Stream-stream interval join: right rows within `[leftTime -
    * lookback, leftTime)` for the same key — the streaming face of the
    * batch banded range join (t05). Both sides carry watermarks and the
    * join condition bounds event time on BOTH sides, so Spark can
    * evict each side's state once the watermark passes the interval —
    * the state-bounding contract stream-stream joins require at scale.
    * Column names must be disjoint across the two inputs (rename before
    * calling), since the time-interval condition is a cross-side
    * expression.
    */
  /** Spark-4-native keyed state (`transformWithState`): per-key running
    * (count, max id) census. The modern replacement for
    * `mapGroupsWithState` — typed named state handles (`ValueState` here;
    * list/map state, TTL and timers are the same handle surface), and it
    * REQUIRES the RocksDB state store provider, i.e. the spill-to-disk
    * state backend 100 TB streaming state needs anyway. Both tracked
    * stats are integer and monotone, so the final per-key emission is
    * the same however the source is chopped into micro-batches.
    */
  private class RunningCensus
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("census",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, mx) =
        if (st.exists()) st.get() else (0L, Long.MinValue)
      rows.foreach { r => n += 1; if (r._2 > mx) mx = r._2 }
      st.update((n, mx))
      Iterator.single((key, n, mx))
    }
  }

  /** Keyed MAP state (`transformWithState` + `MapState`): per-user
    * per-event-type running counts in ONE state handle — the shape a
    * per-entity feature ledger takes (map key = feature, value =
    * running stat). Emission per batch is the key's full current map,
    * flattened; counts are integer+monotone, so max-per-(key, type)
    * over Update-mode emissions is batch-count-invariant like t16.
    */
  private class TypeCensus
      extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var st: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("type_census",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        tv: TimerValues): Iterator[(Long, String, Long)] = {
      rows.foreach { r =>
        val t = r._2
        st.updateValue(t, (if (st.containsKey(t)) st.getValue(t) else 0L) + 1L)
      }
      st.iterator().map { case (t, n) => (key, t, n) }
    }
  }

  /** `transformWithState` face of a per-entity feature ledger: running
    * per-(user, event_type) counts via MapState, Update mode.
    */
  def typeCensusTws(events: DataFrame, keyCol: String,
      typeCol: String): DataFrame = {
    val pairs: Dataset[(Long, String)] = events
      .select(col(keyCol).cast("long"), col(typeCol).cast("string"))
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
    pairs
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new TypeCensus, TimeMode.None(),
        OutputMode.Update())(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
          Encoders.scalaLong))
      .toDF("key", "event_type", "n")
  }

  /** `transformWithState` face of `runningTotals`: per-key running
    * (n_events, max_id) in Update mode, one emission per key per batch.
    */
  def runningCensusTws(events: DataFrame, keyCol: String,
      idCol: String): DataFrame = {
    val pairs: Dataset[(Long, Long)] = events
      .select(col(keyCol).cast("long"), col(idCol).cast("long"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    pairs
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new RunningCensus, TimeMode.None(),
        OutputMode.Update())(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong))
      .toDF("key", "n_events", "max_id")
  }

  /** Streaming face of `TextAnalysis.quotaSample` — a standing
    * per-stratum hard-cap admission pipeline. State per stratum is the
    * quota-bounded bottom-k buffer of (fingerprint, id) pairs: a new doc
    * is admitted by DISPLACING the current quota-th pair, not by arrival
    * order, so the final state is a pure function of the SET of rows
    * seen — identical however the stream is chopped into micro-batches
    * and however partitions race (naive first-N admission has neither
    * property). Each emission is the stratum's current census
    * (n_seen, n_admitted, fp_threshold = the quota-th smallest fp, i.e.
    * the current admission bar); n_seen strictly increases per emission,
    * so "row with max n_seen per stratum" is the drained-stream answer.
    *
    * Scale: state is O(strata * quota) total, partitioned by stratum
    * across executors; each batch touches only the strata it carries.
    */
  def quotaAdmission(docs: DataFrame, stratumCol: String, idCol: String,
      textCol: String, quota: Int): DataFrame = {
    require(quota > 0, "quota must be positive")
    val rows: Dataset[(String, Long, Long)] = docs
      .select(col(stratumCol).cast("string").as("__s"),
        col(idCol).cast("long").as("__i"),
        graft.functions.TextFunctions.rollingHash(col(textCol)).cast("long")
          .as("__f"))
      // null text never admitted — the quotaSample contract
      .where(col("__f").isNotNull)
      .as[(String, Long, Long)](Encoders.tuple(
        Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
    implicit val stateEnc =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, List[(Long, Long)])]()
    implicit val outEnc =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(String, Long, Long, Long)]()
    def insert(buf: List[(Long, Long)], x: (Long, Long)): List[(Long, Long)] = {
      val (lo, hi) = buf.span(p =>
        p._1 < x._1 || (p._1 == x._1 && p._2 < x._2))
      val merged = lo ::: x :: hi
      if (merged.size > quota) merged.take(quota) else merged
    }
    rows
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[(Long, List[(Long, Long)]),
        (String, Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Long)],
            state: GroupState[(Long, List[(Long, Long)])]) =>
          var (seen, buf) = state.getOption.getOrElse((0L, Nil))
          it.foreach { r => seen += 1; buf = insert(buf, (r._3, r._2)) }
          state.update((seen, buf))
          (key, seen, buf.size.toLong, buf.last._1)
      }
      .toDF("stratum", "n_seen", "n_admitted", "fp_threshold")
  }

  /** Bounded per-query top-k state for the streaming ANN serve — the
    * quotaAdmission displacement discipline pointed at scored
    * candidates: per q_id the state is the k best (score desc, c_id asc)
    * pairs, so a candidate is kept by displacing the current k-th, never
    * by arrival order — the final state is a pure function of the
    * candidate SET, independent of micro-batch chopping. Emissions are
    * (q_id, n_seen, topk) with topk in rank order; n_seen strictly
    * increases per emission, so max-n_seen per q_id is the drained
    * answer. State is O(queries * k), partitioned by q_id.
    */
  def annTopKState(scored: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val rows: Dataset[(Long, Long, Double)] = scored
      .select(col("q_id").cast("long"), col("c_id").cast("long"),
        col("pq_cos").cast("double"))
      .as[(Long, Long, Double)](Encoders.tuple(
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
    implicit val stateEnc =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, List[(Double, Long)])]()
    implicit val outEnc =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Long, Seq[(Double, Long)])]()
    // buffer ascending by (negScore, c_id): head is the best candidate,
    // take(k) clamps by dropping the current worst
    def insert(buf: List[(Double, Long)], x: (Double, Long)): List[(Double, Long)] = {
      val (lo, hi) = buf.span(p =>
        p._1 < x._1 || (p._1 == x._1 && p._2 < x._2))
      val merged = lo ::: x :: hi
      if (merged.size > k) merged.take(k) else merged
    }
    rows
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroupsWithState[(Long, List[(Double, Long)]),
        (Long, Long, Seq[(Double, Long)])](GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[(Long, Long, Double)],
            state: GroupState[(Long, List[(Double, Long)])]) =>
          var (seen, buf) = state.getOption.getOrElse((0L, Nil))
          it.foreach { r => seen += 1; buf = insert(buf, (-r._3, r._2)) }
          state.update((seen, buf))
          (key, seen, buf.map(p => (-p._1, p._2)))
      }
      .toDF("q_id", "n_seen", "topk")
  }

  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      lateness: String = "1 hour", lookback: String = "1 hour",
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTime, lateness)
      .join(right.withWatermark(rightTime, lateness),
        expr(s"""$leftKey = $rightKey
                |AND $rightTime >= $leftTime - INTERVAL $lookback
                |AND $rightTime < $leftTime""".stripMargin),
        joinType)
}
