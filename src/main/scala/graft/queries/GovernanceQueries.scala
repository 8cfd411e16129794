package graft.queries

import graft.Tables
import graft.operators.{Expectations, Masking}
import graft.operators.Expectations._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-governance operators (round 8): declarative table-level
  * expectations and one-pass column profiling — the certify-and-
  * describe layer a metadata-driven pipeline runs over its own
  * outputs. The reference expresses this contract as a pytest suite
  * outside the engine (reference tests/test_pipeline_motor.py);
  * here it is engine metadata like everything else.
  */
object GovernanceQueries extends graft.QueryFamily {

  // ---------- q99: declarative expectations over the warehouse ----------

  /** The expectation catalog evaluated by q99, declared as DATA — the
    * same JSON metadata language the rest of the pipeline speaks
    * (graft.meta.Metadata.parseExpectations; the reference's whole
    * thesis applied to its own test-suite contract). A user extends
    * the quality contract by editing this document, not engine
    * source. Deliberate mix of passing and failing declarations (a
    * verdict table that can only ever say "pass" certifies nothing):
    * o_orderkey IS a key while o_custkey is not (customers reorder),
    * and the declared two-value order-status domain is violated by
    * every in-flight 'P' row.
    */
  private[graft] val expectationsJson: String =
    """{
      |  "expectations": [
      |    {"id": "e01_unique_orderkey", "table": "orders", "kind": "unique",
      |     "column": "o_orderkey"},
      |    {"id": "e02_unique_custkey", "table": "orders", "kind": "unique",
      |     "column": "o_custkey"},
      |    {"id": "e03_fk_orders_customer", "table": "orders", "kind": "foreign_key",
      |     "column": "o_custkey", "ref_table": "customer", "ref_column": "c_custkey"},
      |    {"id": "e04_notnull_user", "table": "events", "kind": "not_null",
      |     "column": "user_id"},
      |    {"id": "e05_domain_status", "table": "orders", "kind": "accepted_values",
      |     "column": "o_orderstatus", "values": ["O", "F"]},
      |    {"id": "e06_bounds_value", "table": "events", "kind": "bounds",
      |     "column": "value", "min": 0.0, "max": 1000.0},
      |    {"id": "e07_rowcount_documents", "table": "documents", "kind": "row_count_min",
      |     "min_rows": 10},
      |    {"id": "e08_bounds_totalprice", "table": "orders", "kind": "bounds",
      |     "column": "o_totalprice", "min": 0.0}
      |  ]
      |}""".stripMargin

  private val expectationDefs: Seq[ExpectationDef] =
    graft.meta.Metadata.parseExpectations(expectationsJson)

  /** Evaluate the catalog: one verdict row per expectation. All five
    * scan-shaped checks on `orders` fuse into ONE aggregate pass over
    * one scan (Expectations.scanViolations — the property that makes a
    * 50-expectation contract affordable on a 100 TB table), events and
    * documents each cost one more scan, and the referential check is a
    * single LEFT ANTI join with the dimension side broadcast.
    */
  def q99_expectations(spark: SparkSession, dir: String): DataFrame =
    Expectations.evaluate(spark, name => Tables.load(spark, dir, name), expectationDefs)

  val q99_oracle: String =
    """WITH v AS (
      |  SELECT 'e01_unique_orderkey' AS expectation_id, 'orders' AS table_name,
      |    'unique' AS kind, 'o_orderkey' AS column_name,
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'e02_unique_custkey', 'orders', 'unique', 'o_custkey',
      |    CAST(count(*) - count(DISTINCT o_custkey) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'e03_fk_orders_customer', 'orders', 'foreign_key', 'o_custkey',
      |    CAST((SELECT count(*) FROM orders o
      |          WHERE o.o_custkey IS NOT NULL
      |            AND NOT EXISTS (SELECT 1 FROM customer c
      |                            WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
      |  UNION ALL
      |  SELECT 'e04_notnull_user', 'events', 'not_null', 'user_id',
      |    CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT)
      |  FROM events
      |  UNION ALL
      |  SELECT 'e05_domain_status', 'orders', 'accepted_values', 'o_orderstatus',
      |    CAST(count(*) FILTER (
      |      WHERE NOT coalesce(o_orderstatus IN ('O', 'F'), false)) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'e06_bounds_value', 'events', 'bounds', 'value',
      |    CAST(count(*) FILTER (WHERE value < 0.0 OR value > 1000.0) AS BIGINT)
      |  FROM events
      |  UNION ALL
      |  SELECT 'e07_rowcount_documents', 'documents', 'row_count_min', '',
      |    CAST(greatest(10 - count(*), 0) AS BIGINT)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'e08_bounds_totalprice', 'orders', 'bounds', 'o_totalprice',
      |    CAST(count(*) FILTER (WHERE o_totalprice < 0.0) AS BIGINT)
      |  FROM orders)
      |SELECT expectation_id, table_name, kind, column_name, violations,
      |  CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
      |FROM v ORDER BY expectation_id""".stripMargin

  // ---------- q109: declarative column masking ----------

  /** Policy-driven dynamic data masking over customer
    * ([[graft.operators.Masking]]): the governance read-path rewrite —
    * hash-pseudonymize the join key-ish segment (salted md5 keeps it
    * joinable across tables sharing the salt), star all but the last 4
    * characters of the name, k-anonymity-bucket the balance to 1000s,
    * null out the nation. One projection, no extra pass, pushdown-
    * transparent; the whole policy is data, like every other operator
    * here.
    */
  private val maskPolicy: Seq[Masking.MaskDef] = Seq(
    Masking.PartialMask("c_name", keepLast = 4),
    Masking.HashMask("c_mktsegment", salt = "mask-v1"),
    Masking.BucketMask("c_acctbal", width = 1000L),
    Masking.NullifyMask("c_nationkey"))

  def q109_masking(spark: SparkSession, dir: String): DataFrame =
    Masking(Tables.load(spark, dir, "customer"), maskPolicy)
      .orderBy("c_custkey")

  val q109_oracle: String =
    """SELECT c_custkey,
      |  CASE WHEN length(c_name) <= 4 THEN c_name
      |       ELSE repeat('*', length(c_name) - 4) || right(c_name, 4)
      |  END AS c_name,
      |  CAST(NULL AS INTEGER) AS c_nationkey,
      |  CAST(floor(c_acctbal / 1000.0) * 1000 AS BIGINT) AS c_acctbal,
      |  md5(concat('mask-v1|', c_mktsegment)) AS c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------- q100: one-pass column profiling ----------

  /** Whole-table column profile — the `describe`/summary operator a
    * pipeline runs before writing expectations in the first place:
    * per column, row/null/distinct counts, numeric min/max (kept
    * NUMERIC — cross-engine double→string formatting is not stable,
    * values are), string min/max, and mean string length as an exact
    * scaled integer (micro-units — q83's rational-arithmetic rule, so
    * the value is independent of partial-aggregation order).
    *
    * Scale shape, measured not guessed: the obvious single-statement
    * form (every metric in one agg) plans Spark's multi-distinct
    * Expand, and the STRING min/max buffers disqualify hash
    * aggregation — three SortAggregate levels each re-sorting the
    * ×(cols+1)-expanded rows (4.7 s at sf0.1). Split by aggregation
    * shape instead: the no-distinct stats ride ONE scan (ungrouped
    * SortAggregate — no Sort when there are no keys), and each exact
    * distinct count is its own two-phase HASH aggregation over a
    * single-COLUMN scan — columnar storage makes five one-column
    * passes the same bytes as one five-column pass, and every
    * per-value aggregation stays in hash space. 0.45 s at sf0.1
    * (10×), and at 100 TB nothing ever sorts corpus-sized data.
    */
  def q100_profile(spark: SparkSession, dir: String): DataFrame = {
    val numeric = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val strings = Seq("o_orderstatus", "o_orderpriority")
    def orders = Tables.load(spark, dir, "orders")

    // pass 1: everything non-distinct, one wide scan, keys=[] (no sort)
    val baseAggs = (numeric ++ strings).flatMap { c =>
      val isNum = numeric.contains(c)
      Seq(
        count(col(c)).cast("long").as(s"$c#n_values"),
        count_if(col(c).isNull).cast("long").as(s"$c#n_nulls"),
        (if (isNum) min(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"$c#min_num"),
        (if (isNum) max(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"$c#max_num"),
        (if (isNum) lit(null).cast("string") else min(col(c))).as(s"$c#min_str"),
        (if (isNum) lit(null).cast("string") else max(col(c))).as(s"$c#max_str"),
        (if (isNum) lit(null).cast("long")
         else floor(sum(length(col(c)).cast("long")) * 1000000L / count(col(c))))
          .cast("long").as(s"$c#avg_len_micro"))
    }
    val one = orders.agg(baseAggs.head, baseAggs.tail: _*)
    val metrics = Seq("n_values", "n_nulls", "min_num", "max_num",
      "min_str", "max_str", "avg_len_micro")
    val stackArgs = (numeric ++ strings).map { c =>
      (s"'$c'" +: metrics.map(m => s"`$c#$m`")).mkString(", ")
    }.mkString(", ")
    val base = one.selectExpr(
      s"stack(${numeric.size + strings.size}, $stackArgs) AS " +
        s"(column_name, ${metrics.mkString(", ")})")

    // pass 2: all exact distinct counts in one multi-distinct pass.
    // With ONLY count buffers aboard, the Expand pipeline stays in
    // hash aggregation (string group KEYS are fine; it was the string
    // min/max BUFFERS that forced sort aggregation when everything
    // shared one statement)
    val dAggs = (numeric ++ strings).map(c =>
      count_distinct(col(c)).cast("long").as(c))
    val dRow = orders.agg(dAggs.head, dAggs.tail: _*)
    val distincts = dRow.selectExpr(
      s"stack(${numeric.size + strings.size}, " +
        (numeric ++ strings).map(c => s"'$c', `$c`").mkString(", ") +
        ") AS (column_name, n_distinct)")

    base.join(broadcast(distincts), Seq("column_name"))
      .select("column_name", "n_values", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str", "avg_len_micro")
      .orderBy("column_name")
  }

  val q100_oracle: String = {
    def num(c: String) =
      s"""SELECT '$c' AS column_name,
         |  CAST(count($c) AS BIGINT) AS n_values,
         |  CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num,
         |  CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str,
         |  CAST(NULL AS VARCHAR) AS max_str,
         |  CAST(NULL AS BIGINT) AS avg_len_micro
         |FROM orders""".stripMargin
    def str(c: String) =
      s"""SELECT '$c',
         |  CAST(count($c) AS BIGINT),
         |  CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT),
         |  CAST(count(DISTINCT $c) AS BIGINT),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         |  min($c), max($c),
         |  CAST(floor(sum(CAST(length($c) AS BIGINT)) * 1000000 / count($c)) AS BIGINT)
         |FROM orders""".stripMargin
    (Seq("o_orderkey", "o_custkey", "o_totalprice").map(num) ++
      Seq("o_orderstatus", "o_orderpriority").map(str))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---------- q249: incremental profile maintenance ----------

  /** q100's profiling report maintained incrementally — the
    * incremental-≡-rescan family (q107/q110/q113/q209/q224/q227)
    * extended to data profiling: the pre-1998 orders' per-column
    * state (counts, extrema, string length sums — all mergeable)
    * merges with the 1998+ ingest's state; a refresh costs
    * O(|batch| + |columns|), never a history rescan. Exact distinct
    * counts are deliberately absent (not algebraic — q110's HLL
    * story). The oracle is the full-orders recompute verbatim: the
    * split must be invisible in every output cell.
    */
  def q249_incremental_profile(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalProfile
    val numeric = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val strings = Seq("o_orderstatus", "o_orderpriority")
    val orders = Tables.load(spark, dir, "orders")
    val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
    val historic = IncrementalProfile.state(
      orders.filter(col("o_orderdate") < cutoff), numeric, strings)
    val ingest = IncrementalProfile.state(
      orders.filter(col("o_orderdate") >= cutoff), numeric, strings)
    IncrementalProfile.finish(IncrementalProfile.merge(Seq(historic, ingest)))
      .orderBy("column_name")
  }

  val q249_oracle: String = {
    def num(c: String) =
      s"""SELECT '$c' AS column_name,
         |  CAST(count($c) AS BIGINT) AS n_values,
         |  CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT) AS n_nulls,
         |  CAST(min($c) AS DOUBLE) AS min_num,
         |  CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str,
         |  CAST(NULL AS VARCHAR) AS max_str,
         |  CAST(NULL AS BIGINT) AS avg_len_micro
         |FROM orders""".stripMargin
    def str(c: String) =
      s"""SELECT '$c',
         |  CAST(count($c) AS BIGINT),
         |  CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         |  min($c), max($c),
         |  CAST(floor(sum(CAST(length($c) AS BIGINT)) * 1000000 / count($c)) AS BIGINT)
         |FROM orders""".stripMargin
    (Seq("o_orderkey", "o_custkey", "o_totalprice").map(num) ++
      Seq("o_orderstatus", "o_orderpriority").map(str))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---------- q258: t-closeness ----------

  /** t-closeness acceptance bound in ppm (t = 0.2). */
  val tCloseBoundPpm = 200000L

  /** The t-CLOSENESS audit completing q127's release gate: k-anonymity
    * and l-diversity bound class SIZE and VALUE COUNT, but a class can
    * pass both while its sensitive distribution differs wildly from
    * the table's (the attacker's gain IS that difference —
    * Li/Li/Venkatasubramanian 2007). Per equivalence class (q127's
    * quasi-identifier tuple): the Earth-Mover's Distance between the
    * class's nation distribution and the global one over the ORDERED
    * domain — EMD = Σ_d |cum_class(d) − cum_global(d)| / (m−1). Both
    * cumulative fractions are ppm-quantized FIRST (the q114 DIV
    * recipe: `cum·10⁶ DIV n` — every term exact in int64 at ANY corpus
    * size, no n·N cross products), so the statistic is deterministic
    * cross-engine with quantization error ≤ (m−1) ppm.
    *
    * Scale shape: one (class, nation) aggregate + one ≤25-row global
    * aggregate; the evaluation grid is classes × the bounded sensitive
    * domain (the cross is |classes|·25 — both sides bounded-domain
    * aggregates, documented in the cartesian allowlist); cum windows
    * partition BY CLASS over ≤25 rows each. Output is class-sized.
    */
  def q258_t_closeness(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"),
        col("c_nationkey"))
    val classes = cust.groupBy("c_mktsegment", "bal_band")
      .agg(count(lit(1)).cast("long").as("n_rows"))
    val global = cust.groupBy("c_nationkey")
      .agg(count(lit(1)).cast("long").as("g_cnt"))
    val classCnt = cust.groupBy("c_mktsegment", "bal_band", "c_nationkey")
      .agg(count(lit(1)).cast("long").as("c_cnt"))
    val tot = cust.agg(
      count(lit(1)).cast("long").as("n_total"),
      count_distinct(col("c_nationkey")).cast("long").as("m_dom"))
    val wc = Window.partitionBy("c_mktsegment", "bal_band")
      .orderBy("c_nationkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    classes.crossJoin(global) // |classes| x <=25-value domain
      .join(classCnt, Seq("c_mktsegment", "bal_band", "c_nationkey"), "left")
      .na.fill(0L, Seq("c_cnt"))
      .crossJoin(tot) // 1-row scalars
      .withColumn("cumc", sum(col("c_cnt")).over(wc).cast("long"))
      .withColumn("cumg", sum(col("g_cnt")).over(wc).cast("long"))
      .withColumn("term_ppm",
        abs(expr("(cumc * 1000000) DIV n_rows") -
          expr("(cumg * 1000000) DIV n_total")))
      .groupBy("c_mktsegment", "bal_band", "n_rows", "m_dom")
      .agg(sum(col("term_ppm")).cast("long").as("emd_sum"))
      .select(col("c_mktsegment"), col("bal_band"), col("n_rows"),
        expr("emd_sum DIV (m_dom - 1)").cast("long").as("emd_ppm"),
        (expr("emd_sum DIV (m_dom - 1)") <= tCloseBoundPpm).as("t_close"))
      .orderBy("c_mktsegment", "bal_band")
  }

  val q258_oracle: String =
    s"""WITH cust AS (
       |  SELECT c_mktsegment,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |    c_nationkey
       |  FROM customer),
       |cls AS (SELECT c_mktsegment, bal_band, CAST(count(*) AS BIGINT) AS n_rows
       |        FROM cust GROUP BY 1, 2),
       |gtab AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS g_cnt
       |         FROM cust GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
       |          CAST(count(DISTINCT c_nationkey) AS BIGINT) AS m_dom
       |        FROM cust),
       |cc AS (SELECT c_mktsegment, bal_band, c_nationkey,
       |         CAST(count(*) AS BIGINT) AS c_cnt
       |       FROM cust GROUP BY 1, 2, 3),
       |grid AS (
       |  SELECT cls.c_mktsegment, cls.bal_band, cls.n_rows,
       |    gtab.c_nationkey, gtab.g_cnt, coalesce(cc.c_cnt, 0) AS c_cnt
       |  FROM cls CROSS JOIN gtab
       |  LEFT JOIN cc ON cc.c_mktsegment = cls.c_mktsegment
       |    AND cc.bal_band = cls.bal_band
       |    AND cc.c_nationkey = gtab.c_nationkey),
       |cum AS (
       |  SELECT c_mktsegment, bal_band, n_rows, n_total, m_dom,
       |    CAST(sum(c_cnt) OVER w AS BIGINT) AS cumc,
       |    CAST(sum(g_cnt) OVER w AS BIGINT) AS cumg
       |  FROM grid CROSS JOIN tot
       |  WINDOW w AS (PARTITION BY c_mktsegment, bal_band
       |    ORDER BY c_nationkey ROWS UNBOUNDED PRECEDING)),
       |emd AS (
       |  SELECT c_mktsegment, bal_band, n_rows, m_dom,
       |    CAST(sum(abs((cumc * 1000000) // n_rows
       |      - (cumg * 1000000) // n_total)) AS BIGINT) AS emd_sum
       |  FROM cum GROUP BY 1, 2, 3, 4)
       |SELECT c_mktsegment, bal_band, n_rows,
       |  CAST(emd_sum // (m_dom - 1) AS BIGINT) AS emd_ppm,
       |  emd_sum // (m_dom - 1) <= $tCloseBoundPpm AS t_close
       |FROM emd ORDER BY c_mktsegment, bal_band""".stripMargin

  // ---------- q103: versioned time travel (merge-on-read) ----------

  /** Time travel over [[graft.io.Versioned]] driver-gated: commit the
    * pre-1998 orders as version 1 and the 1998+ ingest as version 2
    * (an APPEND — version 1's files are never rewritten), then answer
    * the same keep-newest-per-customer summary AS OF each version from
    * the commit log. Version resolution is marker-based, the as-of
    * read is one multi-path parquet scan, and the current-state squash
    * is the reader's keep-newest dedup (merge-on-read) — the
    * reference consolidator's semantics applied at READ time, which is
    * what makes the write path O(delta) at 100 TB. The oracle
    * recomputes both versions directly from the unsplit orders table
    * (the q49/q90/q101 transparency rule: versioning must never change
    * answers, only which prefix of history produces them).
    */
  def q103_time_travel(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    import graft.meta.{ConsolidationDef, DedupDef}
    import graft.operators.Consolidator
    graft.io.Scratch.scoped(spark, "graft-q103-") { work =>
      val table = s"$work/orders_mor"
      val orders = Tables.load(spark, dir, "orders")
      val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
      val v1 = Versioned.commit(spark, table, orders.filter(col("o_orderdate") < cutoff))
      val v2 = Versioned.commit(spark, table, orders.filter(col("o_orderdate") >= cutoff))
      val cfg = ConsolidationDef(
        enabled = true, inputPattern = "", outputPath = "",
        dedup = DedupDef(enabled = true, keyColumn = "o_custkey",
          orderBy = "o_orderdate", orderDirection = "DESC"))
      def summary(v: Int): DataFrame =
        Consolidator.dedup(Versioned.readAsOf(spark, table, v), cfg, "o_orderkey")
          .agg(
            count(lit(1)).cast("long").as("n_customers"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("latest_total"),
            date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"))
          .select(lit(v).cast("int").as("version"),
            col("n_customers"), col("latest_total"), col("max_date"))
      summary(v1).unionAll(summary(v2)).orderBy("version")
    }
  }

  val q103_oracle: String =
    """WITH snap AS (
      |  SELECT v.version, o.o_custkey, o.o_totalprice, o.o_orderdate,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY v.version, o.o_custkey
      |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM (SELECT 1 AS version UNION ALL SELECT 2) v
      |  JOIN orders o
      |    ON v.version = 2 OR o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |SELECT CAST(version AS INTEGER) AS version,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS latest_total,
      |  strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
      |FROM snap WHERE rn = 1
      |GROUP BY version ORDER BY version""".stripMargin

  // ---------- q107: incremental aggregate (materialized-view) maintenance ----------

  /** Incremental-view maintenance driver-gated: the per-priority order
    * summary is maintained as MERGEABLE PARTIAL STATE
    * ([[graft.operators.IncrementalAgg]]) — the pre-1998 state is
    * merged with the 1998+ ingest's state instead of rescanning
    * history, and the oracle is the full-table aggregate: incremental
    * must be indistinguishable from rescan (q94's rule, applied to
    * aggregation). Sums ride exact decimals so merge ORDER can never
    * change a value; avg is derived once at finish time. Refresh cost
    * is O(|batch| + |groups|) — the only affordable shape for a
    * standing aggregate over a growing 100 TB corpus.
    */
  def q107_incremental_agg(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val orders = Tables.load(spark, dir, "orders")
    val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
    val keys = Seq("o_orderpriority")
    val historic = IncrementalAgg.state(
      orders.filter(col("o_orderdate") < cutoff), keys, "o_totalprice")
    val ingest = IncrementalAgg.state(
      orders.filter(col("o_orderdate") >= cutoff), keys, "o_totalprice")
    IncrementalAgg.finish(IncrementalAgg.merge(Seq(historic, ingest), keys), keys)
      .orderBy("o_orderpriority")
  }

  val q107_oracle: String =
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
      |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_value,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |    AS avg_value
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------- q110: incremental distinct maintenance (HLL state) ----------

  /** q107's incremental-maintenance contract applied to the one
    * aggregate that ISN'T algebraic: distinct customers per order
    * priority, maintained as mergeable HLL sketch state
    * ([[graft.operators.IncrementalDistinct]]). Same driver-gated
    * split as q107 (pre-1998 state merged with the 1998+ ingest's
    * state, never a history rescan); rows-only at the driver —
    * Datasketches HLL has no DuckDB twin — while
    * IncrementalDistinctSpec pins the property that makes it
    * trustworthy: the merged sketch is BIT-IDENTICAL to the
    * full-rescan sketch (HLL union is register-wise max), and the
    * estimate lands within the configured standard error of the
    * exact count.
    */
  def q110_incremental_distinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalDistinct
    val orders = Tables.load(spark, dir, "orders")
    val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
    val keys = Seq("o_orderpriority")
    val historic = IncrementalDistinct.state(
      orders.filter(col("o_orderdate") < cutoff), keys, "o_custkey")
    val ingest = IncrementalDistinct.state(
      orders.filter(col("o_orderdate") >= cutoff), keys, "o_custkey")
    IncrementalDistinct.finish(
      IncrementalDistinct.merge(Seq(historic, ingest), keys), keys)
      .orderBy("o_orderpriority")
  }

  // ---------- q113: incremental quantile maintenance (KLL state) ----------

  /** The incremental-view trio completed: per-priority order-value
    * quantiles maintained as mergeable KLL sketch state
    * ([[graft.operators.IncrementalQuantiles]]), same driver-gated
    * pre/post-1998 split as q107/q110. Exact grouped quantiles cost a
    * corpus sort PER REFRESH on a growing table; KLL state refreshes
    * at O(batch) with a ~1.65% normalized-rank guarantee. Rows-only
    * at the driver (sketch estimates are not SQL-reproducible, and
    * KLL compaction is randomized so estimates are not even bit-stable
    * across runs — the output binds estimates to ranks, which the
    * spec checks against exact quantiles); n_rows is exact and
    * deterministic.
    */
  def q113_incremental_quantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalQuantiles
    val orders = Tables.load(spark, dir, "orders")
    val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
    val keys = Seq("o_orderpriority")
    val historic = IncrementalQuantiles.state(
      orders.filter(col("o_orderdate") < cutoff), keys, "o_totalprice")
    val ingest = IncrementalQuantiles.state(
      orders.filter(col("o_orderdate") >= cutoff), keys, "o_totalprice")
    IncrementalQuantiles.finish(
      IncrementalQuantiles.merge(Seq(historic, ingest), keys), keys)
      .orderBy("o_orderpriority")
  }

  // ---------- q127: k-anonymity / l-diversity audit ----------

  /** Anonymity floor: an equivalence class re-identifies its members
    * when fewer than [[kAnonK]] rows share the quasi-identifier
    * tuple; sensitive-attribute inference needs at least [[kAnonL]]
    * distinct sensitive values per class (Sweeney's k-anonymity,
    * Machanavajjhala's l-diversity).
    */
  val kAnonK = 10L
  val kAnonL = 3L

  /** The release-audit companion to q109's masking: BEFORE a table
    * ships, group it by its quasi-identifier tuple (market segment ×
    * the same 1000-unit balance band q109 generalizes to) and measure
    * each equivalence class — size (k-anonymity) and distinct
    * sensitive values (l-diversity, nation as the sensitive
    * attribute). Classes failing either bound are exactly the rows a
    * release process must suppress or generalize further.
    *
    * Scale shape: ONE hash aggregation over the table (count +
    * count_distinct ride the same shuffle); output is
    * equivalence-class-sized, never row-sized. The flags are plain
    * integer comparisons — no floats, no sampling.
    */
  def q127_k_anonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .groupBy(col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("c_nationkey")).as("n_sensitive"))
      .select(col("c_mktsegment"), col("bal_band"), col("n_rows"),
        col("n_sensitive"),
        (col("n_rows") >= kAnonK).as("k_anonymous"),
        (col("n_sensitive") >= kAnonL).as("l_diverse"))
      .orderBy("c_mktsegment", "bal_band")

  val q127_oracle: String =
    s"""SELECT c_mktsegment,
       |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |  count(*) AS n_rows,
       |  count(DISTINCT c_nationkey) AS n_sensitive,
       |  count(*) >= $kAnonK AS k_anonymous,
       |  count(DISTINCT c_nationkey) >= $kAnonL AS l_diverse
       |FROM customer
       |GROUP BY 1, 2 ORDER BY c_mktsegment, bal_band""".stripMargin

  // ---------- q166: join-key skew profile ----------

  /** Join-key distribution audit — the skew profiler run BEFORE a big
    * join ships (the operational answer to "will AQE have to save
    * this plan"): per candidate join key, row counts bucketed by
    * floor(log2(count)) — computed as `length(bin(cnt)) − 1`, pure
    * integer bit-length, no float log to disagree at powers of two —
    * with per-bucket key counts, row mass, and count extrema. A heavy
    * tail in high buckets is the signature that a salted plan
    * (q80/q98) is needed.
    *
    * Scale shape: one partial-agg shuffle per profiled key (counts
    * collapse map-side), then a ~60-row bucket rollup; the three
    * profiles union into one report.
    */
  def q166_key_skew(spark: SparkSession, dir: String): DataFrame = {
    def profile(df: org.apache.spark.sql.DataFrame, label: String, key: String) =
      df.groupBy(col(key).as("k"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("bucket", expr("length(bin(cnt)) - 1").cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_keys"),
          sum(col("cnt")).cast("long").as("n_rows"),
          min(col("cnt")).as("min_cnt"),
          max(col("cnt")).as("max_cnt"))
        .withColumn("table_key", lit(label))
    profile(Tables.load(spark, dir, "orders"), "orders.o_custkey", "o_custkey")
      .unionByName(profile(Tables.load(spark, dir, "lineitem"),
        "lineitem.l_orderkey", "l_orderkey"))
      .unionByName(profile(Tables.load(spark, dir, "lineitem"),
        "lineitem.l_partkey", "l_partkey"))
      .select("table_key", "bucket", "n_keys", "n_rows", "min_cnt", "max_cnt")
      .orderBy("table_key", "bucket")
  }

  val q166_oracle: String = {
    def prof(table: String, key: String) =
      s"""SELECT '$table.$key' AS table_key,
         |  CAST(length(bin(cnt)) - 1 AS INTEGER) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  min(cnt) AS min_cnt, max(cnt) AS max_cnt
         |FROM (SELECT $key, CAST(count(*) AS BIGINT) AS cnt
         |      FROM $table GROUP BY $key)
         |GROUP BY 2""".stripMargin
    s"""${prof("orders", "o_custkey")}
       |UNION ALL
       |${prof("lineitem", "l_orderkey")}
       |UNION ALL
       |${prof("lineitem", "l_partkey")}
       |ORDER BY table_key, bucket""".stripMargin
  }

  // ---------- q171: cross-source score calibration ----------

  /** Quality-score calibration across sources — the stratified audit
    * behind any global quality threshold ("a 0.6 from src3 is not a
    * 0.6 from src9"): every document's quality score (floor-scaled to
    * an exact micro integer — the q151 rule on q21's bit-identical
    * double) is converted to its GLOBAL normalized rank
    * `(rank−1)·10⁶ DIV (n−1)` and each source reports its mean
    * normalized rank (500000 = globally calibrated; high = this
    * source skews high-quality under the shared scorer). Rank
    * arithmetic all integers, so the calibration table hash-matches.
    *
    * Scale shape: one narrow scoring scan, then the exact global rank
    * via [[graft.operators.RangeRank]] — sample boundaries bucket the
    * (q_micro, doc_id) order so every window partition holds ~1/32 of
    * the corpus and broadcast per-bucket offsets restore the global
    * rank; no single-task sort anywhere — then one source-sized
    * rollup. (The q113 KLL sketch remains the approximate-rank
    * alternative with the same downstream shape.)
    */
  def q171_score_calibration(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val dec38 = "decimal(38,0)"
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        floor(graft.functions.TextFunctions.qualityScore(col("text")) * 1000000L)
          .cast("long").as("q_micro"))
    RangeRank.rank(scored, Nil,
        Seq(RangeRank.Key("q_micro"), RangeRank.Key("doc_id")), "rnk", "n")
      .withColumn("norm_ppm",
        expr("((CAST(rnk AS BIGINT) - 1) * 1000000) DIV (n - 1)"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        expr(s"CAST(sum(CAST(norm_ppm AS $dec38)) DIV count(*) AS BIGINT)")
          .as("mean_norm_ppm"),
        min(col("q_micro")).as("min_q_micro"),
        max(col("q_micro")).as("max_q_micro"))
      .orderBy("source")
  }

  val q171_oracle: String = {
    val q = graft.functions.TextFunctions.qualityScoreSql("text")
    s"""WITH s AS (
       |  SELECT doc_id, source,
       |    CAST(floor(($q) * 1000000) AS BIGINT) AS q_micro
       |  FROM documents),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY q_micro, doc_id) AS rnk,
       |    count(*) OVER () AS n
       |  FROM s)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(((rnk - 1) * 1000000) // (n - 1)) // count(*) AS BIGINT)
       |    AS mean_norm_ppm,
       |  min(q_micro) AS min_q_micro, max(q_micro) AS max_q_micro
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q182: functional-dependency discovery ----------

  /** Candidate FDs to audit: (table, lhs, rhs) triples — the
    * discovery complement of q99 (which asserts declared rules, this
    * MEASURES which dependencies actually hold, the first step of
    * schema inference / normalization review). */
  val fdCandidates: Seq[(String, String, String)] = Seq(
    ("nation", "n_nationkey", "n_regionkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("part", "p_brand", "p_type"),
    ("part", "p_type", "p_brand"),
    ("orders", "o_custkey", "o_orderstatus"),
    ("events", "user_id", "event_type"))

  /** Functional-dependency audit: for each candidate `lhs → rhs`,
    * how many lhs groups exist, how many VIOLATE (≥2 distinct rhs),
    * the worst group's rhs cardinality, and the violation rate in
    * exact ppm. `holds` = zero violations. One hash aggregation per
    * candidate (distinct-count per group collapses map-side), unioned
    * into one report — the same shape profilers like Metanome's
    * simplest pass compute, declaratively.
    */
  def q182_fd_discovery(spark: SparkSession, dir: String): DataFrame = {
    val per = fdCandidates.map { case (table, lhs, rhs) =>
      Tables.load(spark, dir, table)
        .groupBy(col(lhs).as("k"))
        .agg(count_distinct(col(rhs)).as("n_rhs"))
        .agg(count(lit(1)).cast("long").as("n_groups"),
          count_if(col("n_rhs") > 1).cast("long").as("n_violating"),
          max(col("n_rhs")).cast("long").as("max_rhs"))
        .select(lit(s"$table: $lhs -> $rhs").as("fd"),
          col("n_groups"), col("n_violating"), col("max_rhs"),
          expr("(n_violating * 1000000) DIV n_groups").as("violation_ppm"),
          (col("n_violating") === 0L).as("holds"))
    }
    per.reduce(_ unionByName _).orderBy("fd")
  }

  val q182_oracle: String = {
    val arms = fdCandidates.map { case (table, lhs, rhs) =>
      s"""SELECT '$table: $lhs -> $rhs' AS fd,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(count(*) FILTER (WHERE n_rhs > 1) AS BIGINT) AS n_violating,
         |  CAST(max(n_rhs) AS BIGINT) AS max_rhs,
         |  (count(*) FILTER (WHERE n_rhs > 1) * 1000000) // count(*)
         |    AS violation_ppm,
         |  count(*) FILTER (WHERE n_rhs > 1) = 0 AS holds
         |FROM (SELECT $lhs, count(DISTINCT $rhs) AS n_rhs
         |      FROM $table GROUP BY $lhs)""".stripMargin
    }
    arms.mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  // ---------- q205: sketch-boundary ntile (the approximate path) ----------

  /** The SKETCH-ASSISTED tile assignment named as the 100 TB
    * alternative throughout the exact-rank family (q58/q134/q163):
    * per-group quintile BOUNDARIES from a mergeable KLL sketch (one
    * aggregation — no rank pass at all), applied back over the scan
    * as broadcast thresholds. Tile populations are then exact-to-±ε·n
    * per KLL's normalized-rank guarantee (~1.65% at k=200) instead of
    * ±1 — the documented trade: one pass and mergeable state vs the
    * exact two-pass [[graft.operators.RangeRank]]. KLL compaction is
    * randomized, so this is a rows-only member (SketchNtileSpec pins
    * the population-error bound and tile geometry instead of an
    * oracle hash).
    *
    * Scale shape: one sketch aggregation (|groups|·sketch-bytes
    * state — the q113 incremental state, reused as a planner), one
    * broadcast, one re-scan; nothing sorts anywhere.
    */
  def q205_sketch_ntile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val probs = Seq(0.2, 0.4, 0.6, 0.8)
    val bCols = probs.zipWithIndex.map { case (p, i) =>
      kll_sketch_get_quantile_double(col("kll"), lit(p)).as(s"b${i + 1}") }
    val bounds = e.groupBy("event_type")
      .agg(kll_sketch_agg_double(col("cents").cast("double")).as("kll"))
      .select(col("event_type") +: bCols: _*)
    val tile = probs.indices.foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("cents").cast("double") > col(s"b${i + 1}"), 1).otherwise(0) }
    e.join(broadcast(bounds), "event_type")
      .withColumn("tile", tile)
      .groupBy("event_type", "tile")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .orderBy("event_type", "tile")
  }

  // ---------- q206: erasure-scope report (GDPR cascade) ----------

  /** Deletion subjects for q206 — the fixed audit list (user ids ≡
    * customer keys in this corpus's key convention). */
  val erasureSubjects: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L)

  /** Erasure-SCOPE report — the step before q121's delete feed: given
    * a list of data subjects, enumerate every table their data
    * touches WITH the transitive closure a real erasure must cascade
    * through (lineitems hang off orders, not off the customer key —
    * deleting the subject's orders strands their lineitems unless the
    * scope walks the FK). One row per table: rows in scope + an exact
    * key-sum pin of the scoped set.
    *
    * Scale shape: the subject list is a broadcast literal; events/
    * orders/customer scope at scan throughput; the lineitem cascade
    * is one semi-join keyed by orderkey against the subject's order
    * set (itself broadcast-sized for any real deletion batch).
    */
  def q206_erasure_scope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val subj = erasureSubjects.toDF("k")
    def scope(name: String, df: DataFrame, key: String, pin: String): DataFrame =
      df.join(broadcast(subj), col(key) === col("k"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(col(pin)), lit(0L)).cast("long").as("pin_sum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("pin_sum"))
    val ev = scope("events", Tables.load(spark, dir, "events"), "user_id", "event_id")
    val cu = scope("customer", Tables.load(spark, dir, "customer"), "c_custkey", "c_custkey")
    val orders = Tables.load(spark, dir, "orders")
    val or = scope("orders", orders, "o_custkey", "o_orderkey")
    val subjOrders = orders.join(broadcast(subj), col("o_custkey") === col("k"))
      .select(col("o_orderkey").as("ok"))
    val li = Tables.load(spark, dir, "lineitem")
      .join(broadcast(subjOrders), col("l_orderkey") === col("ok"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("l_orderkey") + col("l_linenumber")), lit(0L))
          .cast("long").as("pin_sum"))
      .select(lit("lineitem").as("table_name"), col("n_rows"), col("pin_sum"))
    ev.unionByName(cu).unionByName(or).unionByName(li)
      .orderBy("table_name")
  }

  val q206_oracle: String = {
    val ks = erasureSubjects.mkString("(", ", ", ")")
    s"""SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(coalesce(sum(c_custkey), 0) AS BIGINT) AS pin_sum
       |FROM customer WHERE c_custkey IN $ks
       |UNION ALL
       |SELECT 'events', CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum(event_id), 0) AS BIGINT)
       |FROM events WHERE user_id IN $ks
       |UNION ALL
       |SELECT 'lineitem', CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum(l_orderkey + l_linenumber), 0) AS BIGINT)
       |FROM lineitem WHERE l_orderkey IN
       |  (SELECT o_orderkey FROM orders WHERE o_custkey IN $ks)
       |UNION ALL
       |SELECT 'orders', CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT)
       |FROM orders WHERE o_custkey IN $ks
       |ORDER BY table_name""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q205_sketch_ntile" -> (q205_sketch_ntile _),
    "q206_erasure_scope" -> (q206_erasure_scope _),
    "q182_fd_discovery" -> (q182_fd_discovery _),
    "q171_score_calibration" -> (q171_score_calibration _),
    "q166_key_skew" -> (q166_key_skew _),
    "q110_incremental_distinct" -> (q110_incremental_distinct _),
    "q113_incremental_quantiles" -> (q113_incremental_quantiles _),
    "q99_expectations" -> (q99_expectations _),
    "q100_profile" -> (q100_profile _),
    "q109_masking" -> (q109_masking _),
    "q103_time_travel" -> (q103_time_travel _),
    "q107_incremental_agg" -> (q107_incremental_agg _),
    "q249_incremental_profile" -> (q249_incremental_profile _),
    "q258_t_closeness" -> (q258_t_closeness _),
    "q127_k_anonymity" -> (q127_k_anonymity _))

  val oracles: Map[String, String] = Map(
    "q206_erasure_scope" -> q206_oracle,
    "q166_key_skew" -> q166_oracle,
    "q171_score_calibration" -> q171_oracle,
    "q182_fd_discovery" -> q182_oracle,
    "q99_expectations" -> q99_oracle,
    "q100_profile" -> q100_oracle,
    "q109_masking" -> q109_oracle,
    "q103_time_travel" -> q103_oracle,
    "q107_incremental_agg" -> q107_oracle,
    "q249_incremental_profile" -> q249_oracle,
    "q258_t_closeness" -> q258_oracle,
    "q127_k_anonymity" -> q127_oracle)
}
