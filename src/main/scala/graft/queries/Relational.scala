package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Relational query battery over the TPC-H-ish corpus.
  *
  * Design rules (all queries):
  *  - fully deterministic output: explicit ORDER BY over a unique key so
  *    the DuckDB oracle hash-matches row-for-row;
  *  - doubles rounded at the output edge (sums to 2dp, ratios to 4dp) so
  *    float summation-order differences between engines can't flip a hash;
  *  - plans stay declarative (no collect, no UDF) so Catalyst pushes
  *    filters/pruning into the parquet scan and picks broadcast joins for
  *    the dimension tables — the properties that survive a 1000-executor
  *    100 TB scale-up.
  */
object Relational {

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** TPC-H Q1-style pricing summary: single shuffle on a low-cardinality
    * key; partial (map-side) aggregation does almost all the work. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(rev), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Star join: fact lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.
    * nation/region are tiny → explicit broadcast; customer/orders join
    * shuffles on the key. Revenue by nation within one region. */
  def q2RevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o  = t(spark, dir, "orders")
    val c  = t(spark, dir, "customer")
    val n  = t(spark, dir, "nation")
    val r  = t(spark, dir, "region")
    // Join order MEASURED, kept (round 21): the filter-early rewrite
    // (region-filtered customer → orders → lineitem, one lineitem-sized
    // shuffle instead of two at cluster scale) was implemented and
    // interleave-A/B'd at sf0.1 — it measured ×1.15-1.25 SLOWER on the
    // bench board, because the mid-plan broadcast of the filtered
    // orders join adds two sequential stage waves (build → collect →
    // re-broadcast) where this shape probes four statically-built
    // dimension broadcasts in ONE pipelined pass over lineitem. The
    // trade flips on a real cluster (where orders no longer
    // broadcasts and the saved lineitem-sized exchange dominates);
    // plans/r21 and OPTIMIZATION_r21.md carry both shapes' evidence.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(round(sum(rev), 2).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** TPC-H Q3-style top-k: unshipped revenue per order for one market
    * segment; TakeOrderedAndProject keeps the top-10 without a full sort. */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o  = t(spark, dir, "orders")
    val c  = t(spark, dir, "customer")
    // Join order MEASURED, kept (round 21, same verdict as q2): the
    // filter-early rewrite (BUILDING-filtered orders⋈customer before
    // lineitem) A/B'd ×1.2-1.3 slower at sf0.1 — the mid-plan
    // broadcast materialization of the filtered orders costs more
    // than the pipelined two-probe pass saves on this board; the
    // rewrite's saved lineitem-sized exchange only pays off where the
    // dimension side is too big to broadcast. Evidence in
    // OPTIMIZATION_r21.md.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .where(col("c_mktsegment") === "BUILDING")
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(rev), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** EXISTS / semi-join: order-priority counts for orders having at least
    * one returned item. Semi join avoids duplicating fact rows. */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val o  = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem").where(col("l_returnflag") === "R")
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Window function: top-3 orders by totalprice per customer
    * (row_number with a unique tiebreak). One shuffle on o_custkey. */
  def q5WindowTopPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** TPC-H Q6-style scalar aggregate: tight filter fully pushed to the
    * parquet scan, then a single global sum (partial agg → 1 row). */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_discount").between(0.04, 0.07) && col("l_quantity") < 25)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  /** ROLLUP grouping sets over returnflag/linestatus. */
  def q7Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Set operations: nations having customers INTERSECT nations having
    * suppliers, plus EXCEPT in the other direction, tagged.
    *
    * Computed as ONE pass (round 21): tag each side, union, and take
    * per-key presence flags in a single aggregate — `INTERSECT` ≡ both
    * flags, `EXCEPT` ≡ customer-only. The literal intersect/except
    * formulation planned each set operator as its own
    * distinct-aggregate + join and scanned BOTH tables twice (4 scans,
    * 4 hash exchanges + 2 broadcasts); this shape scans each table
    * once and shuffles (nationkey, flag) once with map-side partial
    * aggregation — the set-op result is identical, including SQL set
    * semantics for NULL keys (grouping treats NULLs as one key, the
    * same null-safe equality intersect/except use). */
  def q8SetOps(spark: SparkSession, dir: String): DataFrame = {
    val cn = t(spark, dir, "customer")
      .select(col("c_nationkey").as("nationkey"), lit(true).as("is_cust"))
    val sn = t(spark, dir, "supplier")
      .select(col("s_nationkey").as("nationkey"), lit(false).as("is_cust"))
    cn.union(sn)
      .groupBy("nationkey")
      .agg(max(col("is_cust")).as("has_cust"), max(!col("is_cust")).as("has_supp"))
      .where(col("has_cust"))
      .select(col("nationkey"),
        when(col("has_supp"), "both").otherwise("customer_only").as("tag"))
      .orderBy("tag", "nationkey")
  }

  /** Anti join: customers with no recent orders, counted per nation. */
  def q9AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
      .where(expr("o_orderdate >= TIMESTAMP '2000-07-01'"))
    val n = t(spark, dir, "nation")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  /** JSON projection (engine op E2): `get_json_object` over events.props,
    * aggregated per event_type. Mirrors the reference's scalar JSONPath
    * wiring (types/dataclasses/block.go:303-365). */
  def q10JsonEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .where(col("k") > 50)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(avg("value"), 4).as("avg_value"),
        round(avg("k"), 4).as("avg_k"))
      .orderBy("event_type")

  /** Time-bucketed aggregation over the events stream table (batch view
    * of the Structured Streaming windowed agg in graft.streaming). */
  def q11HourlyEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("hour", "event_type")

  /** Sessionization: per-user session count with a 30-minute inactivity
    * gap — lag window + conditional sum, the classic event-log pattern. */
  def q12Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e.withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("prev_ts") < col("ts") - expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Correlated-aggregate pattern: customers whose account balance is
    * above their nation's average (broadcast the per-nation averages). */
  def q13AboveAvgCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val natAvg = c.groupBy("c_nationkey").agg(avg("c_acctbal").as("nat_avg"))
    c.join(broadcast(natAvg), Seq("c_nationkey"))
      .where(col("c_acctbal") > col("nat_avg"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_above"), round(max("c_acctbal"), 2).as("max_bal"))
      .orderBy("c_nationkey")
  }

  /** As-of join — an operator Spark lacks natively (SURVEY §2.4):
    * each error event matched to the SAME USER's latest click at or
    * before it. Implemented with the union-sort-window shape: tag both
    * streams, one window pass per user carries the last click forward.
    * ONE shuffle on user_id, no range explosion — this is the form
    * that scales (a naive ts-inequality join is quadratic per user).
    * Build-side ties (same user, same µs) are pre-deduped by max
    * event_id so both engines pick the same row. */
  def q14AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val clicks = e.where(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max_by(col("value"), col("event_id")).as("value"))
      .select(col("user_id"), col("ts"), col("value"), lit(0).as("is_probe"))
    val errors = e.where(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val tagged = errors.select(col("user_id"), col("ts"),
        col("event_id"), lit(null).cast("double").as("value"), lit(1).as("is_probe"))
      .unionByName(clicks.withColumn("event_id", lit(null).cast("long"))
        .select("user_id", "ts", "event_id", "value", "is_probe"))
    // clicks sort before errors at equal ts → ASOF's `>=` semantics
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_ts",
        last(when(col("is_probe") === 0, col("ts")), ignoreNulls = true).over(w))
      .withColumn("click_value",
        last(when(col("is_probe") === 0, col("value")), ignoreNulls = true).over(w))
      .where(col("is_probe") === 1 && col("click_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("click_ts"),
        round(col("click_value"), 2).as("click_value"))
      .orderBy("event_id")
  }

  /** Range join — bucketed to stay an equi-join: events following each
    * error within one hour, same user. Each probe row expands to its
    * two candidate hour-buckets; the join runs on (user_id, bucket) and
    * the exact range predicate filters after. No inequality join, no
    * per-user quadratic blowup — the candidate set is bounded by bucket
    * occupancy, the shape that survives 100 TB. */
  def q15RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val bucket = (c: Column) => floor(unix_micros(c) / (3600L * 1000000L))
    val probes = e.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("b", explode(array(bucket(col("ts")), bucket(col("ts")) + 1)))
    val cands = e.select(col("user_id"), col("ts").as("ts2"))
      .withColumn("b", bucket(col("ts2")))
    probes.join(cands, Seq("user_id", "b"), "left")
      .groupBy("event_id")
      .agg(sum(when(col("ts2") > col("ts") &&
        col("ts2") <= col("ts") + expr("INTERVAL 1 HOUR"), 1L).otherwise(0L))
        .as("n_next_hour"))
      .orderBy("event_id")
  }

  /** PIVOT: per-user event-type counts as columns (explicit value list
    * keeps the plan a single pivot aggregate, no extra pass to discover
    * the domain). Only the count columns are zero-filled: a NULL
    * `user_id` stays its own NULL group, as in the oracle. */
  def q16Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    t(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)
      .orderBy("user_id")
  }

  /** Exact vs sketch cardinality: exact COUNT(DISTINCT) per event type
    * (oracle-checked); the HLL++ sketch path is asserted within error
    * bounds in the ScalaTest suite (approx results are not
    * hash-comparable by design). */
  def q17DistinctUsers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q14_asof_join"        -> q14AsofJoin _,
    "q15_range_join"       -> q15RangeJoin _,
    "q16_pivot"            -> q16Pivot _,
    "q17_distinct_users"   -> q17DistinctUsers _,
    "q1_pricing_summary"   -> q1PricingSummary _,
    "q2_revenue_by_nation" -> q2RevenueByNation _,
    "q3_top_orders"        -> q3TopOrders _,
    "q4_priority_exists"   -> q4PriorityExists _,
    "q5_window_top_per_customer" -> q5WindowTopPerCustomer _,
    "q6_forecast_revenue"  -> q6ForecastRevenue _,
    "q7_rollup"            -> q7Rollup _,
    "q8_set_ops"           -> q8SetOps _,
    "q9_anti_join"         -> q9AntiJoin _,
    "q10_json_events"      -> q10JsonEvents _,
    "q11_hourly_events"    -> q11HourlyEvents _,
    "q12_sessionize"       -> q12Sessionize _,
    "q13_above_avg_customers" -> q13AboveAvgCustomers _,
  )

  val oracles: Map[String, String] = Map(
    "q14_asof_join" ->
      """WITH c AS (SELECT user_id, ts, max_by(value, event_id) AS value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |     e AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, c.ts AS click_ts,
        |  round(c.value, 2) AS click_value
        |FROM e ASOF JOIN c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts
        |ORDER BY e.event_id""".stripMargin,
    "q15_range_join" ->
      """SELECT e.event_id,
        |  (SELECT count(*) FROM events c
        |   WHERE c.user_id = e.user_id
        |     AND c.ts > e.ts AND c.ts <= e.ts + INTERVAL 1 HOUR) AS n_next_hour
        |FROM events e WHERE e.event_type = 'error'
        |ORDER BY e.event_id""".stripMargin,
    "q16_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q17_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_base_price,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        |  round(avg(l_quantity),4) AS avg_qty,
        |  round(avg(l_extendedprice),4) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q2_revenue_by_nation" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1,2,3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_window_top_per_customer" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.04 AND 0.07 AND l_quantity < 25""".stripMargin,
    "q7_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q8_set_ops" ->
      """SELECT nationkey, 'both' AS tag FROM
        |  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |   INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS tag FROM
        |  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |   EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |ORDER BY tag, nationkey""".stripMargin,
    "q9_anti_join" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-07-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_json_events" ->
      """SELECT event_type, count(*) AS n,
        |  round(avg(value),4) AS avg_value,
        |  round(avg(k),4) AS avg_k
        |FROM (SELECT event_type, value,
        |        -- json_valid guard: malformed props extract NULL (the
        |        -- Spark/Trino/Hive convention); bare json_extract errors
        |        CAST(CASE WHEN json_valid(props)
        |             THEN json_extract_string(props,'$.k') END AS INT) AS k
        |      FROM events)
        |WHERE k > 50 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_hourly_events" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q12_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM (SELECT user_id,
        |        CASE WHEN prev_ts IS NULL
        |               OR prev_ts < ts - INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |      FROM (SELECT user_id, ts,
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |            FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q13_above_avg_customers" ->
      """SELECT c_nationkey, count(*) AS n_above,
        |  round(max(c_acctbal),2) AS max_bal
        |FROM customer c
        |JOIN (SELECT c_nationkey AS nk, avg(c_acctbal) AS nat_avg
        |      FROM customer GROUP BY 1) a ON c.c_nationkey = a.nk
        |WHERE c_acctbal > nat_avg
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
