package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core analytics operators (SURVEY §2 #10–#18).
  *
  * Numeric policy (SURVEY §4): money/quantity aggregates are computed in
  * exact DECIMAL arithmetic and only the final value is cast to DOUBLE,
  * making results bit-identical across engines and across partition
  * orders — at 100 TB, partial-aggregate accumulation order is
  * non-deterministic, so floating-point sums would not even be stable
  * run-to-run.
  */
object Analytics extends graft.QueryFamily {

  private val dec18 = DecimalType(18, 2)
  private val dec4 = DecimalType(4, 2)

  /** TPC-H Q1-style pricing summary: full scan + single hash aggregate.
    * Map-side partial aggregation reduces the shuffle to |groups| rows
    * per task; the shipdate filter and 7-column projection are pushed to
    * the parquet scan. Semantics from the reference's per-batch record
    * accounting (runner.py:193 record_count logging), generalized to a
    * real aggregate.
    */
  def q10_pricing_summary(spark: SparkSession, dir: String): DataFrame = {
    val qty = col("l_quantity").cast(dec18)
    val price = col("l_extendedprice").cast(dec18)
    val one = lit(1).cast(dec4)
    val disc = col("l_discount").cast(dec4)
    val tax = col("l_tax").cast(dec4)
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") < to_timestamp(lit("1998-09-03 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(qty).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (one - disc)).cast("double").as("sum_disc_price"),
        sum(price * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
        (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q10_oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1998-09-03 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------- q11: star join + aggregate ----------

  /** Star-schema join: fact `orders` joined through `customer` to the
    * `nation`/`region` dims. Only the two TRUE dims (nation 25 rows,
    * region 5 rows — bounded domains) carry explicit broadcast hints;
    * `customer` scales linearly with the corpus (a fact table at the
    * 100 TB frame), so its join is left to the planner — AQE still
    * broadcasts it at small SF, and shuffles it when it's big.
    */
  def q11_join_agg(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec18)).cast("double").as("revenue"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("r_name", "n_name")
  }

  val q11_oracle: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(DISTINCT o_custkey) AS n_customers
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------- q12: window top-N per group ----------

  def q12_window_topn(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.load(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rk")
  }

  val q12_oracle: String =
    """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders)
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  // ---------- q13: distinct + conditional aggregates ----------

  def q13_agg_distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        sum(when(col("o_orderstatus") === "F", col("o_totalprice").cast(dec18))
          .otherwise(lit(0).cast(dec18))).cast("double").as("finished_revenue"))
      .orderBy("o_orderpriority")

  val q13_oracle: String =
    """SELECT o_orderpriority,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  count(*) AS n_orders,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS finished_revenue
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------- q14: rollup ----------

  /** Multi-level aggregate via ROLLUP. Subtotal rows surface as NULL
    * group keys in both engines; coalesced to 'ALL' so the comparison
    * (and downstream consumers) need no NULL-ordering convention.
    */
  def q14_rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec18)).cast("double").as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("revenue"))
      .orderBy("status", "priority")

  val q14_oracle: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ---------- q15: pivot ----------

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Pivot with an explicit value list — the implicit-values form would
    * need an extra distinct scan AND make the output schema data-
    * dependent, which breaks at scale and in streaming.
    */
  def q15_pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderstatus")

  val q15_oracle: String = {
    val cols = priorities.map(p =>
      s"""count(CASE WHEN o_orderpriority = '$p' THEN 1 END) AS "$p"""")
    s"""SELECT o_orderstatus, ${cols.mkString(", ")}
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  // ---------- q16: as-of join ----------

  /** As-of join: for every purchase event, the user's most recent
    * strictly-earlier click. Spark has no ASOF JOIN; the scalable
    * encoding is union-the-streams + one window pass — a single shuffle
    * by user_id, O(n log n) in each partition, versus an
    * inequality-join which Spark would execute as a broadcast
    * nested-loop (O(n·m) per user). Timestamps are collision-free in
    * this dataset (checked), so strict '<' is well-defined; the oracle
    * uses DuckDB's native ASOF JOIN as an independent implementation.
    */
  def q16_asof_join(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_id", "user_id", "event_type", "ts", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy("ts")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .withColumn("last_click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"), col("user_id"), col("value"),
        date_format(col("last_click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_click_at"))
      .orderBy("event_id")
  }

  val q16_oracle: String =
    """SELECT p.event_id, p.user_id, p.value,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_at
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.ts < p.ts
      |ORDER BY p.event_id""".stripMargin

  // ---------- q17: tumbling time-window aggregate ----------

  /** Batch twin of the Structured Streaming windowed aggregation
    * (same `window()` call works under readStream + watermark; see
    * streaming.EventsStreaming).
    */
  def q17_events_tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(dec18)).cast("double").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy("hour_start", "event_type")

  val q17_oracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q18: sessionization ----------

  /** Gap-based sessionization (30 min): a session break is a row whose
    * gap to the previous event exceeds the timeout; the running sum of
    * breaks is the session index. One shuffle by user_id; both window
    * passes share the same partitioning so Catalyst plans a single
    * exchange. Batch twin of flatMapGroupsWithState sessionization.
    */
  def q18_sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapMin = 30 * 60L
    Tables.load(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapMin, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        sum(col("value").cast(dec18)).cast("double").as("session_value"))
      .orderBy("user_id", "session_id")
  }

  val q18_oracle: String =
    """SELECT user_id, session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM (
      |  SELECT *, CAST(sum(is_break) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT *, CASE WHEN prev_ts IS NULL
      |        OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS is_break
      |    FROM (
      |      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |      FROM events)))
      |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  // ---------- q45: semi/anti joins ----------

  /** Existence joins: per nation, how many customers have orders
    * (semi) vs none (anti). Both plan as existence joins — no
    * materialized join output, the probe side short-circuits on first
    * match; at 100 TB this is the only sane encoding of
    * EXISTS/NOT EXISTS (a join+distinct would shuffle the full match
    * multiplicity).
    */
  def q45_semi_anti(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders").select("o_custkey")
    val active = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_active"))
    val inactive = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_inactive"))
    active.join(inactive, Seq("c_nationkey"), "full_outer")
      .select(
        col("c_nationkey"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_inactive"), lit(0L)).as("n_inactive"))
      .orderBy("c_nationkey")
  }

  val q45_oracle: String =
    """WITH a AS (
      |  SELECT c_nationkey, count(*) AS n_active FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY c_nationkey),
      |i AS (
      |  SELECT c_nationkey, count(*) AS n_inactive FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY c_nationkey)
      |SELECT coalesce(a.c_nationkey, i.c_nationkey) AS c_nationkey,
      |  coalesce(n_active, 0) AS n_active,
      |  coalesce(n_inactive, 0) AS n_inactive
      |FROM a FULL OUTER JOIN i ON a.c_nationkey = i.c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  // ---------- q46: CUBE multi-dimensional aggregate ----------

  /** Two-phase CUBE: Spark's direct cube() plans the grouping-set
    * Expand BELOW the aggregation, multiplying every lineitem row by
    * the 4 grouping sets before any partial combine — 4x the per-row
    * decimal work on the corpus-sized table (measured 4.5x wall at 10x
    * data). Phase 1 here is ONE plain partial-agg scan down to the ~6
    * true (returnflag, linestatus) groups; the cube's Expand then runs
    * over that 6-row table. Re-aggregating the partials is exact:
    * decimal sums are associative and counts re-sum — bit-identical to
    * the direct form (the dims are non-null in this corpus; a cube
    * over null-bearing dims conflates data-NULL with subtotal rows
    * identically in both shapes).
    */
  def q46_cube(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec18)).as("q"))
    base.cube("l_returnflag", "l_linestatus")
      .agg(
        sum(col("n")).as("n_items"),
        sum(col("q")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")
  }

  val q46_oracle: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---------- registry ----------

  // ---------- q129: local-supplier star join (TPC-H Q5 shape) ----------

  /** The Q5-shaped join — the step up from q11's single-fact star:
    * TWO fact tables (orders ⋈ lineitem on orderkey, the only
    * fact-sized shuffle pair) threaded through three broadcast dims,
    * plus the CROSS-DIMENSION locality predicate
    * `c_nationkey = s_nationkey` (customer and supplier in the same
    * nation) that no single dim lookup can answer — the classic
    * join-graph shape that exercises Catalyst's join planning.
    *
    * Scale shape: orders filters on date at the scan (pushed), joins
    * customer on custkey (both sides key-shuffled; at 100 TB customer
    * is fact-sized, not broadcastable), and the pre-joined pair meets
    * lineitem co-partitioned on orderkey. supplier/nation/region
    * broadcast explicitly (q11's rule: don't let post-filter
    * misestimates pick a shuffle). Revenue rides the q10 DECIMAL
    * recipe — exact regardless of aggregation order.
    */
  def q129_local_supplier(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1996-01-01 00:00:00"))
    val hi = to_timestamp(lit("1997-01-01 00:00:00"))
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val customer = Tables.load(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val supplier = Tables.load(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    val price = col("l_extendedprice").cast(dec18)
    val one = lit(1).cast(dec4)
    val disc = col("l_discount").cast(dec4)
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      // supplier scales with SF (a catalog, not a bounded domain): no
      // hint — AQE broadcasts it while it measures small, shuffles after
      .join(supplier,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(sum(price * (one - disc)).cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q129_oracle: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
      |    AS revenue,
      |  count(*) AS n_lineitems
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------- q152: customer order-count distribution (TPC-H Q13 shape) ----------

  /** Order-count distribution INCLUDING the zero bucket — the TPC-H
    * Q13 plan shape this library was missing: an OUTER join feeding
    * an aggregate whose most interesting group (customers with no
    * orders at all) exists only because the join preserved unmatched
    * build rows. Inner-join formulations silently drop that bucket —
    * the classic "where did my inactive users go" bug; the spec pins
    * the zero row.
    *
    * Scale shape: one customer⋈orders shuffle on custkey (both sides
    * fact-scale at 100 TB; AQE handles skew), per-customer counts
    * collapse map-side, and the distribution rollup is
    * |distinct counts| rows — tiny. `count(o_orderkey)` (non-null
    * counting) is what turns the outer join's NULLs into the zero
    * bucket.
    */
  def q152_order_distribution(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer").select(col("c_custkey"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).cast("long").as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).cast("long").as("n_custs"))
      .orderBy(desc("n_custs"), desc("c_count"))
  }

  val q152_oracle: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS n_custs
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY n_custs DESC, c_count DESC""".stripMargin

  // ---------- q160: large-volume orders (TPC-H Q18 shape) ----------

  /** Quantity threshold — sized so a small, interesting fraction of
    * orders qualifies at every scale factor (TPC-H Q18's 300-ish
    * shape scaled to this corpus's ~4-lineitem orders). */
  val largeOrderQty = 220

  /** Large-volume orders (TPC-H Q18): orders whose TOTAL lineitem
    * quantity exceeds a threshold, rejoined to their customer and
    * full detail — the aggregate-filter-then-rejoin plan shape
    * (HAVING on a grouped fact, then the survivors drive a semi-join
    * back into the detail tables). The qualifying-order set is tiny,
    * so it BROADCASTS into both rejoins and the big tables are never
    * shuffled for the final assembly — the shape's entire point at
    * 100 TB; quantities aggregate in exact decimal (q10's rule).
    */
  def q160_large_orders(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val big = li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(dec18)).as("total_qty"))
      .filter(col("total_qty") > lit(largeOrderQty).cast(dec18))
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.load(spark, dir, "customer").select("c_custkey", "c_name")
    orders
      .join(big, col("o_orderkey") === col("l_orderkey"))  // order-scaled set: no hint
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"),
        col("total_qty").cast("double").as("total_qty"))
      .orderBy(desc("total_qty"), col("o_orderkey"))
  }

  val q160_oracle: String =
    s"""SELECT c_custkey, c_name, o_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
       |  CAST(total_qty AS DOUBLE) AS total_qty
       |FROM orders
       |JOIN (
       |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > $largeOrderQty
       |) big ON o_orderkey = big.l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_qty DESC, o_orderkey""".stripMargin

  // ---------- q189: native session_window sessionization ----------

  /** Sessionization via Spark's NATIVE `session_window` aggregate —
    * the engine's own merging-session-window mechanism, gated against
    * the same semantics as q18's hand-rolled lag/running-sum form
    * (two independent mechanisms, one truth): 30-minute gap, session
    * ids recovered as the per-user rank of the window start (sessions
    * are disjoint and ordered, so rank ≡ q18's break count).
    * session_end is max(ts) (the last EVENT, not window end — window
    * end adds the gap). One user-keyed shuffle; session merging is
    * the operator's own state machine.
    */
  def q189_session_window(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("sw.start"))
    Tables.load(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select("user_id", "session_id", "n_events", "session_start", "session_end")
      .orderBy("user_id", "session_id")
  }

  val q189_oracle: String =
    """SELECT user_id, session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
      |FROM (
      |  SELECT *, CAST(sum(is_break) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM (
      |    SELECT user_id, ts,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |        OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
      |        THEN 1 ELSE 0 END AS is_break
      |    FROM events))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------- q190: activity streaks (gaps and islands) ----------

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands pattern (day − rank is constant within a
    * consecutive run): distinct (user, day), island key by date
    * arithmetic, per-island length, per-user argmax with a
    * (length desc, start asc) total order. The engagement-streak
    * feature every retention model wants.
    *
    * Scale shape: one distinct rollup, one user-partitioned rank
    * window, one island aggregate, one user-sized argmax window.
    */
  def q190_streaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDay = Window.partitionBy("user_id").orderBy("day")
    val wBest = Window.partitionBy("user_id")
      .orderBy(col("streak_len").desc, col("streak_start").asc)
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
      .withColumn("island", unix_date(col("day")) - row_number().over(wDay))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).cast("long").as("streak_len"),
        min(col("day")).as("streak_start"))
      .withColumn("n_active_days",
        sum(col("streak_len")).over(Window.partitionBy("user_id")).cast("long"))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("streak_len").as("best_streak"),
        date_format(col("streak_start"), "yyyy-MM-dd").as("streak_start"),
        col("n_active_days"))
      .orderBy("user_id")
  }

  val q190_oracle: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |isl AS (
      |  SELECT user_id, day,
      |    date_diff('day', DATE '1970-01-01', day)
      |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
      |  FROM ud),
      |runs AS (
      |  SELECT user_id, island, CAST(count(*) AS BIGINT) AS streak_len,
      |    min(day) AS streak_start
      |  FROM isl GROUP BY 1, 2),
      |tot AS (
      |  SELECT *, CAST(sum(streak_len) OVER (PARTITION BY user_id) AS BIGINT)
      |    AS n_active_days
      |  FROM runs)
      |SELECT user_id, streak_len AS best_streak,
      |  strftime(streak_start, '%Y-%m-%d') AS streak_start, n_active_days
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY streak_len DESC, streak_start ASC) AS rk
      |  FROM tot)
      |WHERE rk = 1 ORDER BY user_id""".stripMargin

  // ---------- q217: supplier excess share (nested-aggregate semi) ----------

  /** A supplier "dominates" a part when it shipped at least this many
    * ppm (20%) of the part's total 1996 volume. */
  val excessSharePpm = 200000L

  /** Supplier concentration report (the TPC-H Q20 shape without
    * partsupp): per (part, supplier) 1996 shipped volume vs the
    * part's total — the correlated "share of my own group's total"
    * subquery, planned as ONE aggregate + a self-ratio join keyed by
    * part (never a per-row rescan). Output: suppliers that dominate
    * ≥ 1 part, with how many, their peak share, and the dominated
    * volume — the supply-chain-risk cut of the order book.
    *
    * Scale shape: both aggregates partial-agg the same scan lineage
    * ((part, supp) rollup, then part rollup OF THAT — the second is
    * catalog-sized input, not a second corpus pass); the ratio join
    * is keyed by partkey with no broadcast hint (both sides
    * catalog-scaled; AQE decides). Volume rides exact integer cents.
    */
  def q217_excess_share(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1996-01-01 00:00:00"))
    val hi = to_timestamp(lit("1997-01-01 00:00:00"))
    val ps = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_quantity") * 100).cast("long").as("qc"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("qc")).cast("long").as("q_ps"))
    val pt = ps.groupBy("l_partkey")
      .agg(sum(col("q_ps")).cast("long").as("q_p"))
    ps.join(pt, "l_partkey")
      .withColumn("share_ppm", expr("(q_ps * 1000000) DIV q_p"))
      .filter(col("share_ppm") >= excessSharePpm)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).cast("long").as("n_parts_dominated"),
        max(col("share_ppm")).as("max_share_ppm"),
        sum(col("q_ps")).cast("long").as("dominated_qty_cents"))
      .orderBy("l_suppkey")
  }

  val q217_oracle: String =
    s"""WITH ps AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q_ps
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  GROUP BY 1, 2),
       |pt AS (
       |  SELECT l_partkey, CAST(sum(q_ps) AS BIGINT) AS q_p
       |  FROM ps GROUP BY 1),
       |sh AS (
       |  SELECT ps.*, (q_ps * 1000000) // q_p AS share_ppm
       |  FROM ps JOIN pt USING (l_partkey))
       |SELECT l_suppkey,
       |  CAST(count(*) AS BIGINT) AS n_parts_dominated,
       |  CAST(max(share_ppm) AS BIGINT) AS max_share_ppm,
       |  CAST(sum(q_ps) AS BIGINT) AS dominated_qty_cents
       |FROM sh WHERE share_ppm >= $excessSharePpm
       |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // ---------- q235: waiting suppliers (TPC-H Q21 shape, SLA form) ----------

  /** Shipping-SLA window: a line is LATE when it ships more than this
    * many days after the order date. */
  val waitSlaDays = 90

  /** The TPC-H Q21 composition ("suppliers who kept orders waiting")
    * re-keyed to this schema's columns: on completed ('F')
    * multi-supplier orders where EXACTLY ONE supplier shipped past the
    * [[waitSlaDays]] SLA, charge that supplier — the classic
    * exists/not-exists pair over lineitem self-joins. Planned
    * Spark-first as AGGREGATES instead of correlated exists: one
    * rollup to (order, supplier) grain with a late flag, one
    * order-grain rollup OF THAT (supplier-grain input, not a second
    * corpus pass), and the verdict is a filter on the joined pair —
    * the self-join never materializes lineitem×lineitem. Top-20 by
    * wait count rides TakeOrdered.
    *
    * Scale shape: the orders join and both aggregates shuffle on
    * l_orderkey (the join's partitioning is reused by the first
    * rollup); no broadcast hints (both sides are fact tables; AQE
    * decides); the (order, supplier) table is cut once for its two
    * readers.
    */
  def q235_waiting_suppliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val ps = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        when(col("l_shipdate").cast("date") >
          date_add(col("o_orderdate").cast("date"), waitSlaDays),
          lit(1L)).otherwise(lit(0L)))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("late"))
      .transform(graft.Lineage.cut) // two readers below
    val per = ps.groupBy("l_orderkey")
      .agg(count(lit(1)).cast("long").as("n_supp"),
        sum(col("late")).cast("long").as("n_late"))
    ps.filter(col("late") === 1L)
      .join(per, "l_orderkey")
      .filter(col("n_supp") >= 2 && col("n_late") === 1L)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).cast("long").as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  val q235_oracle: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderdate FROM orders
       |  WHERE o_orderstatus = 'F'),
       |ps AS (
       |  SELECT l_orderkey, l_suppkey,
       |    max(CASE WHEN CAST(l_shipdate AS DATE) >
       |      CAST(o_orderdate AS DATE) + INTERVAL $waitSlaDays DAY
       |      THEN 1 ELSE 0 END) AS late
       |  FROM lineitem JOIN o ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |per AS (
       |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_supp,
       |    CAST(sum(late) AS BIGINT) AS n_late
       |  FROM ps GROUP BY 1)
       |SELECT l_suppkey AS s_suppkey, CAST(count(*) AS BIGINT) AS numwait
       |FROM ps JOIN per USING (l_orderkey)
       |WHERE late = 1 AND n_supp >= 2 AND n_late = 1
       |GROUP BY 1 ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q217_excess_share" -> (q217_excess_share _),
    "q235_waiting_suppliers" -> (q235_waiting_suppliers _),
    "q189_session_window" -> (q189_session_window _),
    "q190_streaks" -> (q190_streaks _),
    "q160_large_orders" -> (q160_large_orders _),
    "q152_order_distribution" -> (q152_order_distribution _),
    "q10_pricing_summary" -> (q10_pricing_summary _),
    "q11_join_agg" -> (q11_join_agg _),
    "q129_local_supplier" -> (q129_local_supplier _),
    "q12_window_topn" -> (q12_window_topn _),
    "q13_agg_distinct" -> (q13_agg_distinct _),
    "q14_rollup" -> (q14_rollup _),
    "q15_pivot" -> (q15_pivot _),
    "q16_asof_join" -> (q16_asof_join _),
    "q17_events_tumbling" -> (q17_events_tumbling _),
    "q18_sessionize" -> (q18_sessionize _),
    "q45_semi_anti" -> (q45_semi_anti _),
    "q46_cube" -> (q46_cube _))

  val oracles: Map[String, String] = Map(
    "q217_excess_share" -> q217_oracle,
    "q235_waiting_suppliers" -> q235_oracle,
    "q189_session_window" -> q189_oracle,
    "q190_streaks" -> q190_oracle,
    "q160_large_orders" -> q160_oracle,
    "q152_order_distribution" -> q152_oracle,
    "q10_pricing_summary" -> q10_oracle,
    "q11_join_agg" -> q11_oracle,
    "q129_local_supplier" -> q129_oracle,
    "q12_window_topn" -> q12_oracle,
    "q13_agg_distinct" -> q13_oracle,
    "q14_rollup" -> q14_oracle,
    "q15_pivot" -> q15_oracle,
    "q16_asof_join" -> q16_oracle,
    "q17_events_tumbling" -> q17_oracle,
    "q18_sessionize" -> q18_oracle,
    "q45_semi_anti" -> q45_oracle,
    "q46_cube" -> q46_oracle)
}
