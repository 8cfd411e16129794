package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** GROUPING SETS, set operators, and SCD2 history
  * (SURVEY §2 #53–#55).
  */
object ExtendedAnalytics extends graft.QueryFamily {

  private val dec18 = DecimalType(18, 2)

  // ---------- q53: GROUPING SETS ----------

  /** Arbitrary grouping-set list ((rf,ls),(ls),()) — the general form
    * of which q14 ROLLUP / q46 CUBE are special cases, one shared
    * shuffle for all sets via the Expand operator (not one scan per
    * set).
    */
  def q53_grouping_sets(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupingSets(
        Seq(
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")),
          Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(dec18)).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  val q53_oracle: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---------- q54: set operators (INTERSECT / EXCEPT) ----------

  /** Cohort retention via set algebra: customers ordering in 1997 who
    * returned in 1998 (INTERSECT) vs churned (EXCEPT). Both plan as
    * existence joins over the distinct key sets — never a full
    * materialized join.
    */
  def q54_set_ops(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    def custsIn(fromTs: String, toTs: String): DataFrame = orders
      .filter(col("o_orderdate") >= to_timestamp(lit(fromTs)) &&
        col("o_orderdate") < to_timestamp(lit(toTs)))
      .select("o_custkey").distinct()
    val c97 = custsIn("1997-01-01 00:00:00", "1998-01-01 00:00:00")
    val c98 = custsIn("1998-01-01 00:00:00", "1999-01-01 00:00:00")
    c97.intersect(c98).withColumn("cohort", lit("retained"))
      .union(c97.except(c98).withColumn("cohort", lit("churned")))
      .select("cohort", "o_custkey")
      .orderBy("cohort", "o_custkey")
  }

  val q54_oracle: String =
    """WITH c97 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      |c98 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
      |SELECT 'retained' AS cohort, o_custkey
      |FROM (SELECT o_custkey FROM c97 INTERSECT SELECT o_custkey FROM c98)
      |UNION ALL
      |SELECT 'churned' AS cohort, o_custkey
      |FROM (SELECT o_custkey FROM c97 EXCEPT SELECT o_custkey FROM c98)
      |ORDER BY cohort, o_custkey""".stripMargin

  // ---------- q55: SCD2 history build ----------

  /** Slowly-changing-dimension type 2: each order opens a validity
    * interval per customer, closed by the next order (half-open
    * [valid_from, valid_to)); the open interval is the current row.
    * The history-preserving alternative to keep-newest consolidation
    * (q06) — one shuffle by entity key, per-partition sort, lead().
    */
  def q55_scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("valid_to_ts", lead(col("o_orderdate"), 1).over(w))
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd").as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"),
        col("o_totalprice"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  val q55_oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
      |  strftime(lead(o_orderdate) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
      |    '%Y-%m-%d') AS valid_to,
      |  (lead(o_orderdate) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
      |    IS NULL) AS is_current,
      |  o_totalprice
      |FROM orders
      |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin

  // ---------- q80: skew-resilient salted aggregation ----------

  /** The two-phase salted aggregation ([[graft.operators.Skew]])
    * driver-gated against a plain GROUP BY oracle. events.event_type
    * has a handful of distinct values over the whole table — exactly
    * the hot-key shape where a plain groupBy funnels each key's every
    * row into one reducer and a viral key stalls the stage at 100 TB.
    * Salting splits each key into 16 content-hashed sub-groups
    * aggregated in parallel; the second-phase combine touches one row
    * per (key, salt). The oracle equality IS the correctness claim:
    * decomposed two-phase results match the single-phase aggregation
    * exactly (count → sum of counts; decimal-exact sums per the §4
    * parity policy, so no float-order drift between the phases).
    */
  def q80_skew_agg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.countAndSum(
      Tables.load(spark, dir, "events"),
      key = col("event_type"),
      saltSource = col("event_id"),
      valueCol = col("value").cast(dec18))
      .select(col("key").as("event_type"), col("n").as("n_events"),
        col("total").cast("double").as("total_value"))
      .orderBy("event_type")

  val q80_oracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- q98: skew-resilient salted join ----------

  /** [[graft.operators.Skew.saltedJoin]] driver-gated against the
    * plain-join oracle — the join-side completion of q80's salted
    * aggregation. events.user_id is the fact key (users repeat across
    * the whole table); the per-user dimension (each user's newest
    * order) is replicated across 16 salts so any viral user's event
    * rows spread over 16 reducers instead of one. The oracle is the
    * UNSALTED join + aggregate: salting must be invisible in the
    * result (every probe row meets exactly one replica), which the
    * hash-compare proves exactly.
    */
  def q98_salted_join(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value").cast(dec18).as("v"))
    val dim = graft.operators.Dedup.keepNewest(
      Tables.load(spark, dir, "orders"), col("o_custkey"),
      col("o_orderdate"), col("o_orderkey"))
      .select(col("o_custkey").as("user_id"), col("o_orderkey"))
    // salt by the unique event id: uniform fan-out even when values repeat
    graft.operators.Skew.saltedJoin(
      events, dim, key = "user_id", saltSource = col("event_id"), nSalts = 16)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        max(col("o_orderkey")).as("newest_orderkey"),
        sum(col("v")).cast("double").as("total_value"))
      .orderBy("user_id")
  }

  val q98_oracle: String =
    """WITH dim AS (
      |  SELECT o_custkey AS user_id, o_orderkey FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1)
      |SELECT user_id, count(*) AS n_events,
      |  max(o_orderkey) AS newest_orderkey,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN dim USING (user_id)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------- registry ----------

  // ---------- q233: salt-plan generator ----------

  /** Per-task row target floor for the salt plan. */
  val saltTargetFloor = 20L

  /** The CONFIG GENERATOR for the suite's skew machinery (q80's salted
    * aggregate, q98's salted join): per hot key, the salt factor that
    * caps any single (key, salt) task at the per-task row target
    * `t = max(total DIV 256, 100)` — 256 ≈ 8 waves of 32 tasks, the
    * same sizing logic `spark.sql.shuffle.partitions` encodes. Salting
    * is only worth its fan-out cost on keys that actually exceed the
    * target, so the plan lists exactly those, with the factor
    * `ceil(n/t)` and the resulting per-salt bound — the two numbers a
    * skew config needs. Run against the `source` dimension of the
    * corpus, the low-cardinality key every per-source rollup groups
    * by (at 100 TB EVERY source is a hot key — which is why q80/q98
    * salt unconditionally).
    *
    * Scale shape: one lowCard partial aggregate, a 1-row target cross
    * join, pure arithmetic. The plan itself is ≤ |sources| rows.
    */
  def q233_salt_plan(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        // content pin: per-source total text bytes (a salt plan over a
        // count-only profile is a pure function of the id space)
        sum(length(col("text"))).as("src_chars"))
    val t = counts.agg(sum(col("n_rows")).cast("long").as("tot"))
      .select(greatest(expr("tot DIV 256"), lit(saltTargetFloor))
        .cast("long").as("target_rows"))
    counts.crossJoin(broadcast(t))
      .filter(col("n_rows") > col("target_rows"))
      .withColumn("salt_factor",
        expr("(n_rows + target_rows - 1) DIV target_rows"))
      .withColumn("max_per_salt",
        expr("(n_rows + salt_factor - 1) DIV salt_factor"))
      .select("source", "n_rows", "target_rows", "salt_factor",
        "max_per_salt", "src_chars")
      .orderBy("source")
  }

  val q233_oracle: String =
    s"""WITH counts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(length(text)) AS BIGINT) AS src_chars
       |  FROM documents GROUP BY source),
       |t AS (
       |  SELECT CAST(greatest(sum(n_rows) // 256, $saltTargetFloor) AS BIGINT)
       |    AS target_rows
       |  FROM counts)
       |SELECT source, n_rows, target_rows,
       |  CAST((n_rows + target_rows - 1) // target_rows AS BIGINT)
       |    AS salt_factor,
       |  CAST((n_rows + (n_rows + target_rows - 1) // target_rows - 1)
       |    // ((n_rows + target_rows - 1) // target_rows) AS BIGINT)
       |    AS max_per_salt,
       |  src_chars
       |FROM counts CROSS JOIN t
       |WHERE n_rows > target_rows
       |ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q233_salt_plan" -> (q233_salt_plan _),
    "q53_grouping_sets" -> (q53_grouping_sets _),
    "q54_set_ops" -> (q54_set_ops _),
    "q55_scd2" -> (q55_scd2 _),
    "q80_skew_agg" -> (q80_skew_agg _),
    "q98_salted_join" -> (q98_salted_join _))

  val oracles: Map[String, String] = Map(
    "q233_salt_plan" -> q233_oracle,
    "q53_grouping_sets" -> q53_oracle,
    "q54_set_ops" -> q54_oracle,
    "q55_scd2" -> q55_oracle,
    "q80_skew_agg" -> q80_oracle,
    "q98_salted_join" -> q98_oracle)
}
