package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.queries.QuerySpec.decSum

/** Relational query surface (SURVEY.md §2.1 / §7.2 M3): everything the
  * reference lacks — joins, aggregation, windows, sorts, set ops, scalar
  * functions — expressed as declarative DataFrame plans so Catalyst owns
  * pushdown/pruning/join selection.
  *
  * Scale notes (100 TB stance):
  *   - Dimension tables (`customer`, `supplier`, `nation`, `region`) are
  *     explicitly `broadcast(...)` so fact-side scans never shuffle for them.
  *   - Aggregations are hash aggregates with map-side partial combine — no
  *     row ever leaves an executor un-reduced.
  *   - Top-k is `ORDER BY ... LIMIT k` which Catalyst plans as
  *     TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  *     never a global sort).
  */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "r01_pricing_summary",
      "TPC-H Q1-style pricing summary: filtered scan + hash aggregate (decimal-exact)",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("sum_disc_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          (decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (decSum(col("l_discount"), 6) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
             |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*) AS avg_qty,
             |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QuerySpec(
      "r02_topk_revenue",
      "TPC-H Q3-style: join + agg + fully tie-broken top-k (joins AQE-chosen: customer is SF-scaled, so no explicit broadcast hint)",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING")
        val ord = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") < to_timestamp(lit("1998-06-01")))
        val li = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") > to_timestamp(lit("1998-06-01")))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate,
             |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-06-01'
             |  AND l_shipdate > TIMESTAMP '1998-06-01'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    QuerySpec(
      "r03_local_supplier_volume",
      "TPC-H Q5-style 6-way join: broadcast hints only on genuinely bounded dims (nation 25 rows, region 5); customer/supplier are SF-scaled, so AQE picks their join strategy",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val supp = Tables.load(s, dir, "supplier")
        val nat = broadcast(Tables.load(s, dir, "nation"))
        val reg = broadcast(Tables.load(s, dir, "region")
          .where(col("r_name") === "ASIA"))
        val ord = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1999-01-01")))
        val li = Tables.load(s, dir, "lineitem")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .join(reg, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1999-01-01'
             |GROUP BY n_name""".stripMargin)),

    QuerySpec(
      "r04_semi_join",
      "left-semi join (EXISTS): customers that have orders",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val ord = Tables.load(s, dir, "orders")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    QuerySpec(
      "r05_anti_join",
      "left-anti join (NOT EXISTS): customers with no orders",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val ord = Tables.load(s, dir, "orders")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    QuerySpec(
      "r06_outer_join_agg",
      "left outer join + aggregate: per-customer order stats (null-safe)",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val ord = Tables.load(s, dir, "orders")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            decSum(col("o_totalprice")).as("total_spent"))
      },
      Some("""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey, c_name""".stripMargin)),

    QuerySpec(
      "r07_distinct",
      "distinct projection",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    QuerySpec(
      "r08_count_distinct",
      "exact distinct counts per group (expand + two-phase aggregate)",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QuerySpec(
      "r09_approx_count_distinct",
      "HyperLogLog++ approximate distinct with an in-query error bound: emits the exact count and whether the sketch landed within 5% of it, so sketch regressions are driver-visible without demanding bit-equality (oracle = exact side + literal true)",
      (s, dir) => Tables.load(s, dir, "lineitem")
        // Dedup (flag, partkey) FIRST (one map-side-combined aggregate),
        // then count + sketch the deduplicated set: HLL over a
        // deduplicated input is bit-identical to HLL over the raw column
        // (it sees the same distinct hashes), while putting countDistinct
        // and approx_count_distinct in ONE agg triggers Catalyst's
        // mixed-distinct rewrite that keeps a full HLL buffer (1640
        // longs at rsd=0.01) per (flag, partkey) group — gigabytes of
        // aggregation state at sf0.1, and unbounded at 100 TB.
        .groupBy(col("l_returnflag"), col("l_partkey")).agg(count(lit(1)))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_exact"),
          approx_count_distinct(col("l_partkey"), 0.01).as("__approx"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("__approx") - col("n_exact")).cast("double")
            <= lit(0.05) * col("n_exact")).as("within_5pct")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
             |  TRUE AS within_5pct
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QuerySpec(
      "r10_rollup",
      "hierarchical rollup with grouping indicators",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("n"),
          decSum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
             |  CAST(grouping(l_linestatus) AS INT) AS g_status,
             |  count(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    QuerySpec(
      "r11_cube",
      "full cube over two dimensions",
      (s, dir) => Tables.load(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("sum_price")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin)),

    QuerySpec(
      "r12_grouping_sets",
      "explicit grouping sets (SQL surface comes free with Catalyst)",
      (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    QuerySpec(
      "r13_sort_topk",
      "multi-column top-k (TakeOrderedAndProject: per-partition heap, no global sort)",
      (s, dir) => Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25),
      Some("""SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin)),

    QuerySpec(
      "r14_union_all",
      "union all + aggregate",
      (s, dir) => {
        val a = Tables.load(s, dir, "orders").select(col("o_custkey").as("key"))
        val b = Tables.load(s, dir, "customer").select(col("c_custkey").as("key"))
        a.unionAll(b).groupBy(col("key")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT key, count(*) AS n FROM (
             |  SELECT o_custkey AS key FROM orders
             |  UNION ALL
             |  SELECT c_custkey AS key FROM customer
             |) GROUP BY key""".stripMargin)),

    QuerySpec(
      "r15_intersect",
      "set intersection (distinct semantics)",
      (s, dir) => Tables.load(s, dir, "lineitem").select(col("l_orderkey").as("key"))
        .intersect(Tables.load(s, dir, "orders").select(col("o_orderkey").as("key"))),
      Some("""SELECT l_orderkey AS key FROM lineitem
             |INTERSECT
             |SELECT o_orderkey AS key FROM orders""".stripMargin)),

    QuerySpec(
      "r16_except",
      "set difference (distinct semantics): orders with no lineitems",
      (s, dir) => Tables.load(s, dir, "orders").select(col("o_orderkey").as("key"))
        .except(Tables.load(s, dir, "lineitem").select(col("l_orderkey").as("key"))),
      Some("""SELECT o_orderkey AS key FROM orders
             |EXCEPT
             |SELECT l_orderkey AS key FROM lineitem""".stripMargin)),

    QuerySpec(
      "r17_string_funcs",
      "scalar string functions (codegen'd, no UDFs)",
      (s, dir) => Tables.load(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        length(col("c_name")).as("name_len"),
        substring(col("c_name"), 1, 8).as("prefix"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"),
        regexp_replace(col("c_name"), "Customer#", "C-").as("short_name"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).cast("long").as("name_num")),
      Some("""SELECT c_custkey, upper(c_name) AS uname, length(c_name) AS name_len,
             |  substring(c_name, 1, 8) AS prefix,
             |  concat_ws('|', c_mktsegment, c_name) AS tagged,
             |  regexp_replace(c_name, 'Customer#', 'C-') AS short_name,
             |  CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS name_num
             |FROM customer""".stripMargin)),

    QuerySpec(
      "r18_date_funcs",
      "scalar date/time functions",
      (s, dir) => Tables.load(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start")),
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y,
             |  CAST(month(o_orderdate) AS INT) AS m,
             |  CAST(day(o_orderdate) AS INT) AS d,
             |  CAST(quarter(o_orderdate) AS INT) AS q,
             |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
             |FROM orders""".stripMargin)),

    QuerySpec(
      "r19_math_funcs",
      "scalar math functions (IEEE-deterministic only: no libm transcendentals)",
      (s, dir) => Tables.load(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - lit(0.05)).as("disc_dev"),
        ceil(col("l_quantity")).as("qty_ceil"),
        floor(col("l_quantity") / lit(2.0)).as("half_floor"),
        sqrt(col("l_extendedprice")).as("price_sqrt"),
        (col("l_linenumber") % lit(3)).as("mod3"),
        greatest(col("l_discount"), col("l_tax")).as("max_rate"),
        least(col("l_discount"), col("l_tax")).as("min_rate")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  abs(l_discount - 0.05) AS disc_dev,
             |  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
             |  CAST(floor(l_quantity / 2.0) AS BIGINT) AS half_floor,
             |  sqrt(l_extendedprice) AS price_sqrt,
             |  l_linenumber % 3 AS mod3,
             |  greatest(l_discount, l_tax) AS max_rate,
             |  least(l_discount, l_tax) AS min_rate
             |FROM lineitem""".stripMargin)),

    QuerySpec(
      "r20_case_when",
      "conditional bucketing + aggregate",
      (s, dir) => Tables.load(s, dir, "orders")
        .withColumn("price_band",
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 200000, "mid")
            .otherwise("high"))
        .groupBy(col("price_band"))
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("sum_price")),
      Some("""SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
             |            WHEN o_totalprice < 200000 THEN 'mid'
             |            ELSE 'high' END AS price_band,
             |  count(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1""".stripMargin)),

    QuerySpec(
      "r21_json_extract",
      "semi-structured JSON column: from_json on events.props (the Mongo dynamic-document analogue)",
      (s, dir) => Tables.load(s, dir, "events").select(
        col("event_id"),
        from_json(col("props"), "k INT", Map.empty[String, String])
          .getField("k").as("k")),
      Some("""SELECT event_id,
             |  CAST(json_extract(props, '$.k') AS INT) AS k
             |FROM events""".stripMargin)),

    QuerySpec(
      "r22_window_rank",
      "ranking window functions, fully tie-broken",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.load(s, dir, "events").select(
          col("event_id"), col("user_id"),
          row_number().over(w).as("rn"),
          rank().over(Window.partitionBy(col("user_id")).orderBy(col("event_type")))
            .as("type_rank"))
      },
      Some("""SELECT event_id, user_id,
             |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS INT) AS rn,
             |  CAST(rank() OVER (PARTITION BY user_id ORDER BY event_type) AS INT) AS type_rank
             |FROM events""".stripMargin)),

    QuerySpec(
      "r23_window_running",
      "running aggregate frame (decimal-exact cumulative sum)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "events").select(
          col("event_id"), col("user_id"),
          sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double")
            .as("running_value"))
      },
      Some("""SELECT event_id, user_id,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
             |FROM events""".stripMargin)),

    QuerySpec(
      "r24_window_lag",
      "lag/lead analytics: per-user inter-event deltas",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.load(s, dir, "events").select(
          col("event_id"), col("user_id"),
          (col("value") - lag(col("value"), 1).over(w)).as("value_delta"),
          (col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
            .as("secs_since_prev"))
      },
      Some("""SELECT event_id, user_id,
             |  value - lag(value, 1) OVER w AS value_delta,
             |  date_diff('second',
             |    lag(CAST(ts AS TIMESTAMP), 1) OVER w,
             |    CAST(ts AS TIMESTAMP)) AS secs_since_prev
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)""".stripMargin)),

    QuerySpec(
      "r25_percentile",
      "exact interpolated percentiles (quartiles of l_quantity); integer-valued data keeps the interpolation FP-exact cross-engine",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .agg(percentile(col("l_quantity"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("quartiles")),
      Some("SELECT quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS quartiles FROM lineitem")),

    QuerySpec(
      "r35_approx_percentile",
      "approximate percentile (GK sketch) with an in-query error bound vs the exact interpolated median, per return flag — same driver-visible contract as r09's HLL bound",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.5)).as("p50_exact"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
            .as("__p50_approx"))
        .select(col("l_returnflag"), col("p50_exact"),
          (abs(col("__p50_approx") - col("p50_exact"))
            <= lit(0.05) * col("p50_exact")).as("within_5pct")),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS p50_exact,
             |  TRUE AS within_5pct
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QuerySpec(
      "r36_recursive_gapfill",
      "recursive CTE (Spark 4 WITH RECURSIVE): generate a 30-day date spine and gap-fill daily event counts (empty days emit 0) — the classic time-series densification",
      (s, dir) => {
        Tables.load(s, dir, "events").createOrReplaceTempView("events_r36")
        s.sql("""WITH RECURSIVE spine(d) AS (
                |  SELECT DATE '2024-01-01'
                |  UNION ALL SELECT date_add(d, 1) FROM spine
                |  WHERE d < DATE '2024-01-30')
                |SELECT d, count(e.ts) AS n
                |FROM spine LEFT JOIN events_r36 e ON CAST(e.ts AS DATE) = d
                |GROUP BY d""".stripMargin)
      },
      Some("""WITH RECURSIVE spine(d) AS (
             |  SELECT DATE '2024-01-01'
             |  UNION ALL SELECT d + 1 FROM spine WHERE d < DATE '2024-01-30')
             |SELECT d, count(e.ts) AS n
             |FROM spine LEFT JOIN events e ON CAST(ts AS DATE) = d
             |GROUP BY d""".stripMargin)),

    QuerySpec(
      "r39_moments",
      "mean/stddev/covariance/correlation per return flag WITHOUT FP-shuffle nondeterminism: the five raw moments aggregate exactly in DECIMAL, then the statistics derive per-row in IEEE doubles with the identical formula on both sides — built-in corr()/stddev() would hash-differ by merge order",
      (s, dir) => {
        // DECIMAL(18,4): the pairwise products then type as (37,8) —
        // still inside the 38-digit cap, so they stay EXACT in both
        // engines. At (28,4) the product needs precision 57 and each
        // engine degrades differently (Spark rounds the scale down,
        // DuckDB falls back to DOUBLE) — observed as a covar mismatch in
        // the 12th digit.
        val x = col("l_quantity").cast(DecimalType(18, 4))
        val y = col("l_extendedprice").cast(DecimalType(18, 4))
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).cast("double").as("__sx"), sum(y).cast("double").as("__sy"),
            sum(x * x).cast("double").as("__sxx"),
            sum(y * y).cast("double").as("__syy"),
            sum(x * y).cast("double").as("__sxy"))
          .select(col("l_returnflag"), col("n"),
            (col("__sx") / col("n")).as("mean_qty"),
            sqrt((col("n") * col("__sxx") - col("__sx") * col("__sx"))
              / (col("n") * (col("n") - 1))).as("stddev_qty"),
            ((col("n") * col("__sxy") - col("__sx") * col("__sy"))
              / (col("n") * (col("n") - 1))).as("covar_qty_price"),
            ((col("n") * col("__sxy") - col("__sx") * col("__sy"))
              / (sqrt(col("n") * col("__sxx") - col("__sx") * col("__sx"))
                * sqrt(col("n") * col("__syy") - col("__sy") * col("__sy"))))
              .as("corr_qty_price"))
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sx,
             |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sy,
             |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
             |           * CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
             |           * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS syy,
             |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
             |           * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  sx / n AS mean_qty,
             |  sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_qty,
             |  (n * sxy - sx * sy) / (n * (n - 1)) AS covar_qty_price,
             |  (n * sxy - sx * sy)
             |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             |    AS corr_qty_price
             |FROM m""".stripMargin)),

    QuerySpec(
      "r37_full_outer_join",
      "full outer join: customers and suppliers aligned on nation, unmatched sides null-preserved (completes the join-type matrix next to inner/left/semi/anti/lateral/asof/range)",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
          .groupBy(col("c_nationkey").as("nk_c"))
          .agg(count(lit(1)).as("n_cust"))
        val su = Tables.load(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("nk_s"))
          .agg(count(lit(1)).as("n_supp"))
        c.join(su, col("nk_c") === col("nk_s"), "full_outer")
          .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      },
      Some("""SELECT COALESCE(c.nk, s.nk) AS nationkey,
             |  COALESCE(c.n_cust, 0) AS n_cust,
             |  COALESCE(s.n_supp, 0) AS n_supp
             |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
             |      FROM customer GROUP BY 1) c
             |FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp
             |      FROM supplier GROUP BY 1) s ON c.nk = s.nk""".stripMargin)),

    QuerySpec(
      "r38_setops_all",
      "bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) over order keys, multiplicity-preserving — the distinct variants are r15/r16",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("key"))
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("key"))
        val inter = li.intersectAll(ord)
          .groupBy().agg(count(lit(1)).as("n"))
          .select(lit("intersect_all").as("op"), col("n"))
        val exc = li.exceptAll(ord)
          .groupBy().agg(count(lit(1)).as("n"))
          .select(lit("except_all").as("op"), col("n"))
        inter.unionAll(exc)
      },
      Some("""SELECT 'intersect_all' AS op, count(*) AS n FROM (
             |  SELECT l_orderkey AS key FROM lineitem
             |  INTERSECT ALL
             |  SELECT o_orderkey FROM orders)
             |UNION ALL
             |SELECT 'except_all' AS op, count(*) AS n FROM (
             |  SELECT l_orderkey AS key FROM lineitem
             |  EXCEPT ALL
             |  SELECT o_orderkey FROM orders)""".stripMargin)),

    QuerySpec(
      "r26_pivot",
      "pivot (groupBy + pivot on a bounded value set) == conditional aggregation",
      (s, dir) => Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_n"),
          coalesce(col("O"), lit(0L)).as("o_n"),
          coalesce(col("P"), lit(0L)).as("p_n")),
      Some("""SELECT o_orderpriority,
             |  count(*) FILTER (o_orderstatus = 'F') AS f_n,
             |  count(*) FILTER (o_orderstatus = 'O') AS o_n,
             |  count(*) FILTER (o_orderstatus = 'P') AS p_n
             |FROM orders GROUP BY 1""".stripMargin)),

    QuerySpec(
      "r27_sql_subquery",
      "SQL surface: spark.sql with a correlated scalar subquery (Catalyst decorrelates it into a join)",
      (s, dir) => {
        Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT c_custkey,
                |  (SELECT count(*) FROM orders o
                |   WHERE o.o_custkey = c.c_custkey) AS n_orders
                |FROM customer c""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |  (SELECT count(*) FROM orders o
             |   WHERE o.o_custkey = c.c_custkey) AS n_orders
             |FROM customer c""".stripMargin)),

    QuerySpec(
      "r29_map_funcs",
      "map-typed semi-structured access: from_json to map<string,int>, keys/values/cardinality",
      (s, dir) => Tables.load(s, dir, "events").select(
        col("event_id"),
        array_join(sort_array(map_keys(from_json(col("props"),
          "map<string,int>", Map.empty[String, String]))), ",").as("keys"),
        size(from_json(col("props"), "map<string,int>",
          Map.empty[String, String])).as("n_keys")),
      Some("""SELECT event_id,
             |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
             |  len(json_keys(props)) AS n_keys
             |FROM events""".stripMargin)),

    QuerySpec(
      "r30_grouped_topk",
      "grouped top-k via the native GroupedTopK aggregate (map-side combinable: O(groups*k) shuffled, vs a window's full sort)",
      (s, dir) => Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(graft.operators.GroupedTopK.topK(2)(
          col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), explode(col("top")).as("p"))
        .select(col("o_orderpriority"), col("p._1").as("o_totalprice"),
          col("p._2").as("o_orderkey")),
      Some("""SELECT o_orderpriority, o_totalprice, o_orderkey FROM (
             |  SELECT o_orderpriority, o_totalprice, o_orderkey,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
             |  FROM orders)
             |WHERE rn <= 2""".stripMargin)),

    QuerySpec(
      "r31_range_frame",
      "time-RANGE window frame: per-user running sum over the trailing hour (value-based frame, not row-based)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600L * 1000000L, 0L)
        Tables.load(s, dir, "events").select(
          col("event_id"), col("user_id"),
          sum(col("value").cast(DecimalType(18, 6))).over(w)
            .cast("double").as("sum_1h"))
      },
      Some("""SELECT event_id, user_id,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_1h
             |FROM events""".stripMargin)),

    QuerySpec(
      "r32_analytic_funcs",
      "distribution analytics: ntile / percent_rank / cume_dist over a fully tie-broken ordering",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.load(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |  CAST(ntile(4) OVER w AS INT) AS quartile,
             |  percent_rank() OVER w AS pct_rank,
             |  cume_dist() OVER w AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice, o_orderkey)""".stripMargin)),

    QuerySpec(
      "r28_array_agg",
      "grouped array aggregation, deterministically sorted; rendered as a CSV scalar so the array is oracle-hashable",
      (s, dir) => Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(array_join(
          transform(sort_array(collect_list(col("o_orderkey"))),
            _.cast("string")), ",").as("keys")),
      Some("""SELECT o_orderstatus,
             |  array_to_string(list_sort(array_agg(o_orderkey)), ',') AS keys
             |FROM orders GROUP BY 1""".stripMargin)),

    QuerySpec(
      "r33_lateral_join",
      "correlated LATERAL subquery: top-2 orders per customer (per-row dependent subquery with ORDER BY + LIMIT — the SQL face of grouped top-k)",
      (s, dir) => {
        Tables.load(s, dir, "customer").createOrReplaceTempView("cust_lat")
        Tables.load(s, dir, "orders").createOrReplaceTempView("ord_lat")
        s.sql("""SELECT c_custkey, o_orderkey, o_totalprice
                |FROM cust_lat, LATERAL (
                |  SELECT o_orderkey, o_totalprice FROM ord_lat
                |  WHERE o_custkey = c_custkey
                |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)""".stripMargin)
      },
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
             |FROM customer, LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l""".stripMargin)),

    QuerySpec(
      "r34_unpivot",
      "unpivot/melt: wide per-part numeric columns to (part, attribute, value) long form",
      (s, dir) => Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size"), col("retailprice")), "attr", "val"),
      Some("""SELECT p_partkey, attr, val FROM (
             |  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
             |    p_retailprice AS retailprice
             |  FROM part)
             |UNPIVOT (val FOR attr IN (size, retailprice))""".stripMargin)),

    QuerySpec(
      "r40_exists_scalar",
      "SQL surface: EXISTS / NOT EXISTS semi-predicates plus an uncorrelated scalar subquery threshold (decimal-exact average, so the comparison is bit-deterministic); Catalyst plans EXISTS as semi/anti joins and the scalar as a one-row broadcast",
      (s, dir) => {
        Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT c.c_custkey, c.c_mktsegment,
                |  EXISTS (SELECT 1 FROM orders o
                |          WHERE o.o_custkey = c.c_custkey
                |            AND o.o_totalprice >
                |              (SELECT AVG(CAST(o2.o_totalprice AS DECIMAL(18,4)))
                |               FROM orders o2)) AS has_big_order,
                |  NOT EXISTS (SELECT 1 FROM orders o
                |              WHERE o.o_custkey = c.c_custkey) AS is_inactive
                |FROM customer c""".stripMargin)
      },
      Some("""SELECT c.c_custkey, c.c_mktsegment,
             |  EXISTS (SELECT 1 FROM orders o
             |          WHERE o.o_custkey = c.c_custkey
             |            AND o.o_totalprice >
             |              (SELECT AVG(CAST(o2.o_totalprice AS DECIMAL(18,4)))
             |               FROM orders o2)) AS has_big_order,
             |  NOT EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey) AS is_inactive
             |FROM customer c""".stripMargin)),

    QuerySpec(
      "r41_group_by_all",
      "SQL surface: GROUP BY ALL (Spark 4 / modern-SQL shorthand — every non-aggregate select item becomes a grouping key); decimal-exact sum keeps it hash-comparable",
      (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  count(*) AS n,
                |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                |    AS sum_price
                |FROM orders
                |GROUP BY ALL""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  count(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_price
             |FROM orders
             |GROUP BY ALL""".stripMargin)),

    QuerySpec(
      "r42_filtered_agg",
      "SQL surface: FILTER-clause aggregates (conditional aggregation in ONE pass — the modern replacement for CASE-WHEN pivoting or per-condition self-joins); decimal-exact sums keep it hash-comparable",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          expr("count(*)").as("n_all"),
          expr("count(*) FILTER (WHERE l_returnflag = 'R')").as("n_returned"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) " +
            "FILTER (WHERE l_discount > 0.05) AS DOUBLE)").as("qty_discounted"),
          expr("count(DISTINCT l_suppkey) FILTER (WHERE l_tax = 0)")
            .as("n_supp_taxfree")),
      Some("""SELECT l_linestatus,
             |  count(*) AS n_all,
             |  count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
             |    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_discounted,
             |  count(DISTINCT l_suppkey) FILTER (WHERE l_tax = 0)
             |    AS n_supp_taxfree
             |FROM lineitem
             |GROUP BY l_linestatus""".stripMargin)),

    QuerySpec(
      "r43_running_distinct",
      "running DISTINCT count over an ordered stream — a window no engine supports directly (COUNT(DISTINCT) OVER a running frame): linear first-occurrence-flag decomposition (row_number=1 per key -> running SUM of flags), NOT the quadratic collect-and-distinct; daily 'suppliers seen to date' ledger per return flag",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_suppkey"), col("l_shipdate"),
            col("l_orderkey"), col("l_linenumber"))
        // first-occurrence flag: 1 on the earliest row of each
        // (flag, suppkey) in the fully tie-broken ship order
        val wFirst = Window.partitionBy(col("l_returnflag"), col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        val wRun = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        li.withColumn("first_seen",
            when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
          .withColumn("seen_to_date", sum(col("first_seen")).over(wRun))
          .groupBy(col("l_returnflag"),
            date_trunc("day", col("l_shipdate")).as("day"))
          .agg(max(col("seen_to_date")).as("suppliers_to_date"))
      },
      Some("""WITH f AS (
             |  SELECT l_returnflag, l_shipdate,
             |    CASE WHEN row_number() OVER (
             |        PARTITION BY l_returnflag, l_suppkey
             |        ORDER BY l_shipdate, l_orderkey, l_linenumber) = 1
             |      THEN 1 ELSE 0 END AS first_seen,
             |    l_orderkey, l_linenumber
             |  FROM lineitem),
             |r AS (
             |  SELECT l_returnflag, l_shipdate,
             |    sum(first_seen) OVER (PARTITION BY l_returnflag
             |      ORDER BY l_shipdate, l_orderkey, l_linenumber
             |      ROWS UNBOUNDED PRECEDING) AS seen_to_date
             |  FROM f)
             |SELECT l_returnflag,
             |  CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
             |  CAST(max(seen_to_date) AS BIGINT) AS suppliers_to_date
             |FROM r GROUP BY 1, 2""".stripMargin)),

    QuerySpec(
      "r44_fill_forward",
      "forward-fill repair of a gappy measure (sensor-dropout shape): error rows' value is treated as missing and replaced by the user's last good reading — last_value IGNORE NULLS over a running frame, fully tie-broken; values pass through untouched so no FP determinism risk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "events")
          .where(col("ts").isNotNull && col("user_id").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"),
            when(col("event_type") === "error", lit(null))
              .otherwise(col("value")).as("v"))
          .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
          .drop("v", "ts")
      },
      Some("""SELECT event_id, user_id,
             |  last_value(CASE WHEN event_type = 'error' THEN NULL
             |                  ELSE value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id
             |          ORDER BY CAST(ts AS TIMESTAMP), event_id
             |          ROWS UNBOUNDED PRECEDING) AS v_filled
             |FROM events
             |WHERE ts IS NOT NULL AND user_id IS NOT NULL""".stripMargin)),

    QuerySpec(
      "r45_variant",
      "Spark-4 VARIANT semi-structured path: parse_json(props) into the binary variant encoding, then variant_get typed extraction — the engine-native answer to the reference's schemaless Mongo documents (no declared schema, per-row shredding, NULL on shape mismatch); integer aggregates per event type",
      (s, dir) => Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k")),
      Some("""SELECT event_type,
             |  count(CAST(json_extract_string(props, '$.k') AS INTEGER))
             |    AS n_k,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
             |    AS BIGINT) AS sum_k,
             |  min(CAST(json_extract_string(props, '$.k') AS INTEGER))
             |    AS min_k,
             |  max(CAST(json_extract_string(props, '$.k') AS INTEGER))
             |    AS max_k
             |FROM events GROUP BY event_type""".stripMargin)),

    QuerySpec(
      "r46_try_safe",
      "ANSI-mode error-safe arithmetic: Spark 4 runs ANSI by default, where 1/0 and a bad cast THROW mid-job — try_divide/try_cast return NULL instead, the per-row safety valve a 100 TB pipeline needs (one poisoned row must not kill a 10-hour job). The poisoned-cast column fails only on the ~5% zero-discount rows because each try-absorbed failure costs a caught JVM exception — an always-failing try_cast measured 6x the whole query's runtime in pure exception overhead, itself a scale lesson: try_* is a safety valve for RARE poison, not a bulk parser. NULL-count ledger proves the rows were absorbed, not dropped",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("try_divide(l_extendedprice, l_discount)").as("price_per_disc"),
          expr("""try_cast(CASE WHEN l_discount = 0 THEN l_returnflag
                 |  ELSE CAST(l_orderkey AS STRING) END AS BIGINT)"""
            .stripMargin).as("maybe_key"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          count(col("price_per_disc")).as("n_divisible"),
          sum(when(col("price_per_disc").isNull, 1L).otherwise(0L))
            .as("n_div_by_zero"),
          count(col("maybe_key")).as("n_castable")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  count(l_extendedprice / NULLIF(l_discount, 0)) AS n_divisible,
             |  CAST(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_div_by_zero,
             |  count(TRY_CAST(CASE WHEN l_discount = 0 THEN l_returnflag
             |    ELSE CAST(l_orderkey AS VARCHAR) END AS BIGINT))
             |    AS n_castable
             |FROM lineitem GROUP BY l_returnflag""".stripMargin))
  )
}
