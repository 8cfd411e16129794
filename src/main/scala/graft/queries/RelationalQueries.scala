package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-13 correlated-aggregate relational shapes (SURVEY §2
  * #236–#240): the classic TPC-H decision-support patterns the suite
  * had not yet exercised — a correlated per-group average filter
  * (Q17), a share-of-group-total threshold (Q11), an
  * above-global-average anti-join (Q22), a global argmax join (Q15),
  * and a top-K-by-aggregate report (Q10). The reference's pipeline
  * feeds exactly these consolidation-then-report shapes downstream
  * (reference: pipeline/consolidator.py consolidation +
  * aggregation steps); here each is expressed as the Spark plan you
  * would want at 100 TB.
  *
  * Determinism policy (SURVEY §4): money/quantity sums run in
  * DECIMAL(18,2); every threshold COMPARISON is performed on exact
  * integer cents/e4 units (`decimal * 10^k` cast to long) so the
  * keep/drop verdict is bit-identical to DuckDB regardless of float
  * accumulation order; doubles appear only in final output casts.
  */
object RelationalQueries extends graft.QueryFamily {
  private val dec18 = DecimalType(18, 2)
  private val dec4 = DecimalType(4, 2)

  private def price = col("l_extendedprice").cast(dec18)
  private def one = lit(1).cast(dec4)
  private def disc = col("l_discount").cast(dec4)

  // ---------- q236: small-quantity revenue (TPC-H Q17 shape) ----------

  /** Revenue carried by lineitems whose quantity is below 20% of the
    * part's average quantity, rolled up per brand. The correlated
    * scalar subquery becomes: one per-part aggregate (sum of quantity
    * cents + count — partkey-keyed, map-side partial), joined back to
    * lineitem ON partkey (both sides corpus-scaled: plain shuffle
    * join, NO broadcast hint), with the avg comparison rewritten
    * integer-exact as `5 * qty_cents * n_part < sum_cents` (all
    * positive, so the division-free form is equivalent). The part
    * table joins only for the brand rollup — part is a catalog that
    * scales with the corpus, so it is un-hinted too; AQE broadcasts
    * it while it measures small.
    */
  def q236_small_qty_revenue(spark: SparkSession, dir: String): DataFrame = {
    val qtyC = (col("l_quantity").cast(dec18) * 100).cast("long")
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"), qtyC.as("qty_c"))
    val perPart = li.groupBy("l_partkey")
      .agg(sum(col("qty_c")).as("sum_c"), count(lit(1)).as("n_part"))
      .withColumnRenamed("l_partkey", "pp_partkey")
    val part = Tables.load(spark, dir, "part").select("p_partkey", "p_brand")
    li.join(perPart, col("l_partkey") === col("pp_partkey"))
      .filter(lit(5L) * col("qty_c") * col("n_part") < col("sum_c"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).cast("long").as("n_small_lines"),
        sum(price).cast("double").as("small_revenue"))
      .orderBy("p_brand")
  }

  val q236_oracle: String =
    """WITH pp AS (
      |  SELECT l_partkey AS pp_partkey,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS sum_c,
      |    CAST(count(*) AS BIGINT) AS n_part
      |  FROM lineitem GROUP BY 1)
      |SELECT p_brand,
      |  CAST(count(*) AS BIGINT) AS n_small_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS small_revenue
      |FROM lineitem
      |JOIN pp ON l_partkey = pp_partkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE 5 * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * n_part < sum_c
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------- q237: national value-share parts (TPC-H Q11 shape) ----------

  /** Share threshold: keep (nation, part) groups holding more than
    * 1/2000 of the nation's traded value. */
  val valueShareDen = 2000L

  /** Traded value per (supplier nation, part) vs the national total.
    * lineitem ⋈ supplier is a fact-to-catalog equi-join (supplier
    * un-hinted — it scales with SF); the per-(nation, part) aggregate
    * shuffles once on its own key; the 25-row national total is a
    * bounded-domain aggregate joined back on nationkey (AQE
    * broadcasts it — no hint needed for a 25-row side). The share
    * comparison runs on exact e4-unit longs (`value * 10^4`), never
    * on divided floats.
    */
  def q237_value_share(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"),
        (price * (one - disc)).as("val_d"),
        (price * (one - disc) * 10000).cast("long").as("val_e4"))
    val supplier = Tables.load(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
    val np = li.join(supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey", "l_partkey")
      .agg(sum(col("val_d")).as("value_d"), sum(col("val_e4")).as("value_e4"))
    // materialize the (nation, part) aggregate once: the plain
    // groupBy + join-back form duplicated the np SUBTREE (the
    // lineitem ⋈ supplier fact join ran twice — column pruning
    // specializes the copies, defeating reuse); the cut table is
    // |parts|-bounded, and both the 25-row national total and the
    // share join read it instead of re-running the fact join
    val npc = graft.Lineage.cut(np)
    val tot = npc.groupBy(col("s_nationkey").as("t_nationkey"))
      .agg(sum(col("value_e4")).as("total_e4"))
    val nation = Tables.load(spark, dir, "nation")
    npc.join(tot, col("s_nationkey") === col("t_nationkey"))
      .filter(col("value_e4") * valueShareDen > col("total_e4"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_partkey").as("p_partkey"),
        col("value_d").cast("double").as("value"))
      .orderBy(col("n_name"), col("p_partkey"))
  }

  val q237_oracle: String =
    s"""WITH np AS (
       |  SELECT s_nationkey, l_partkey,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
       |      AS value_d,
       |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |      * 10000 AS BIGINT)) AS BIGINT) AS value_e4
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |tot AS (
       |  SELECT s_nationkey AS t_nationkey,
       |    CAST(sum(value_e4) AS BIGINT) AS total_e4
       |  FROM np GROUP BY 1)
       |SELECT n_name, l_partkey AS p_partkey, CAST(value_d AS DOUBLE) AS value
       |FROM np
       |JOIN tot ON s_nationkey = t_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE value_e4 * $valueShareDen > total_e4
       |ORDER BY n_name, p_partkey""".stripMargin

  // ---------- q238: rich lapsed customers (TPC-H Q22 shape) ----------

  /** Lapse cutoff: a customer counts as lapsed when they placed no
    * order on/after this date (the synthetic corpus gives every
    * customer SOME order, so the unfiltered Q22 predicate is
    * degenerate; recency is the version a retention pipeline asks).
    * The cutoff sits INSIDE the corpus's order-date range (this
    * corpus's orders span 1995-01 .. 2001-08) so at every SF the
    * date-pruned orders side is non-empty AND some above-average
    * customers are genuinely lapsed (measured: 13/67 rich customers
    * at sf0.001, 135/662 at sf0.01, 1331/6894 at sf0.1) — the
    * correctness gate exercises the anti-join on a live branch in
    * both directions, never the everything-passes degenerate one. */
  val lapseCutoff = "2000-07-01 00:00:00"

  /** Per nation: customers whose balance exceeds the average positive
    * balance AND who placed no order since [[lapseCutoff]]. The
    * global average is a 1-row aggregate cross-joined in (Catalyst
    * proves maxRows = 1, so the broadcast-scalar pattern is
    * statically bounded); the lapse test is a left_anti against the
    * date-pruned orders scan keyed on custkey (both corpus-scaled:
    * shuffle anti-join, no hint); the comparison
    * `bal_cents * n_pos > sum_cents` is integer-exact. nation is the
    * one genuinely bounded dim here (25 rows at any SF) — explicit
    * broadcast.
    */
  def q238_rich_no_orders(spark: SparkSession, dir: String): DataFrame = {
    val balC = (col("c_acctbal").cast(dec18) * 100).cast("long")
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        balC.as("bal_c"))
    val stats = cust.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("sum_pos_c"), count(lit(1)).as("n_pos"))
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit(lapseCutoff)))
      .select("o_custkey")
    val nation = Tables.load(spark, dir, "nation")
    cust.crossJoin(broadcast(stats))
      .filter(col("bal_c") * col("n_pos") > col("sum_pos_c"))
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).cast("long").as("n_cust"),
        sum(col("c_acctbal").cast(dec18)).cast("double").as("total_bal"))
      .orderBy("n_name")
  }

  val q238_oracle: String =
    s"""WITH st AS (
       |  SELECT CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS sum_pos_c,
       |    CAST(count(*) AS BIGINT) AS n_pos
       |  FROM customer
       |  WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) > 0)
       |SELECT n_name,
       |  CAST(count(*) AS BIGINT) AS n_cust,
       |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
       |FROM customer CROSS JOIN st
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * n_pos
       |      > sum_pos_c
       |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |    AND o_orderdate >= TIMESTAMP '$lapseCutoff')
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------- q239: max-revenue supplier (TPC-H Q15 shape) ----------

  /** Supplier(s) with the maximum shipped revenue in 1997 H1. Revenue
    * per supplier is one suppkey-keyed aggregate over the date-pruned
    * lineitem scan (the shipdate filter pushes down to parquet); the
    * maximum is a 1-row global aggregate joined back by equality on
    * the exact e4-unit revenue — the classic argmax-without-a-window,
    * emitting EVERY tied supplier. Supplier joins un-hinted for the
    * name lookup.
    */
  def q239_max_revenue_supplier(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1997-01-01 00:00:00"))
    val hi = to_timestamp(lit("1997-07-01 00:00:00"))
    val rev = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_suppkey"),
        (price * (one - disc)).as("val_d"),
        (price * (one - disc) * 10000).cast("long").as("val_e4"))
      .groupBy("l_suppkey")
      .agg(sum(col("val_d")).as("rev_d"), sum(col("val_e4")).as("rev_e4"))
    val best = rev.agg(max(col("rev_e4")).as("best_e4"))
    val supplier = Tables.load(spark, dir, "supplier").select("s_suppkey", "s_name")
    rev.crossJoin(broadcast(best))
      .filter(col("rev_e4") === col("best_e4"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_d").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val q239_oracle: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
      |      AS rev_d,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |      * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_revenue
      |FROM rev
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ---------- q240: top returned-revenue customers (TPC-H Q10 shape) ----------

  /** Report size. */
  val returnedTopK = 20

  /** The 20 customers with the largest returned ('R' flag) revenue on
    * orders placed in 1996 H2. orders is date-pruned at the scan;
    * lineitem filters on the return flag; both sides of the
    * order-customer joins are corpus-scaled and un-hinted; nation
    * broadcasts. Top-K rides orderBy+limit (TakeOrdered — never a
    * global window), ordered on the EXACT e4-unit revenue with
    * custkey as the total tie-break, so the report is deterministic
    * cross-engine.
    */
  def q240_returned_top_customers(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1996-07-01 00:00:00"))
    val hi = to_timestamp(lit("1997-01-01 00:00:00"))
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (price * (one - disc)).as("val_d"),
        (price * (one - disc) * 10000).cast("long").as("val_e4"))
    val cust = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey")
    val nation = Tables.load(spark, dir, "nation")
    orders.join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("val_d")).as("rev_d"), sum(col("val_e4")).as("rev_e4"),
        count(lit(1)).cast("long").as("n_lines"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("rev_e4").desc, col("c_custkey"))
      .limit(returnedTopK)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("rev_d").cast("double").as("returned_revenue"), col("n_lines"))
  }

  val q240_oracle: String =
    s"""SELECT c_custkey, c_name, n_name,
       |  CAST(rev_d AS DOUBLE) AS returned_revenue, n_lines
       |FROM (
       |  SELECT o_custkey,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
       |      AS rev_d,
       |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |      * 10000 AS BIGINT)) AS BIGINT) AS rev_e4,
       |    CAST(count(*) AS BIGINT) AS n_lines
       |  FROM orders
       |  JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |    AND l_returnflag = 'R'
       |  GROUP BY o_custkey) r
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |ORDER BY rev_e4 DESC, c_custkey LIMIT $returnedTopK""".stripMargin

  // ---------- q254: cheapest regional supplier per part (TPC-H Q2 shape) ----------

  /** The procurement region under audit. */
  val cheapestRegion = "EUROPE"

  /** Per part: the [[cheapestRegion]] supplier whose single cheapest
    * historical offer (discounted line price, exact e4 units) is the
    * regional minimum — TPC-H Q2's correlated-min shape re-derived
    * from lineitem history (this corpus carries no partsupp catalog;
    * the shipped-offer history IS the price list). The min is one
    * partkey-keyed aggregate; the winner comes from the q239
    * argmin-without-a-window recipe — join back by EQUALITY on the
    * exact minimum, collapse ties to the lowest suppkey (Q2's total
    * tie-break). part joins only for the brand label.
    *
    * Scale shape: supplier/nation/region prune to the region FIRST
    * (region = 5 rows at any SF — the one genuinely bounded dim);
    * lineitem ⋈ supplier and the join-back are corpus-scaled on both
    * sides, so they are UN-hinted (AQE decides); everything keys on
    * partkey/suppkey — no window, no pairwise work.
    */
  def q254_cheapest_supplier(spark: SparkSession, dir: String): DataFrame = {
    val eu = Tables.load(spark, dir, "supplier")
      .join(Tables.load(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.load(spark, dir, "region")
          .filter(col("r_name") === cheapestRegion),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val offers = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_suppkey"),
        (price * (one - disc) * 10000).cast("long").as("offer_e4"))
      .join(eu.select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("s_suppkey"), col("offer_e4"))
    val best = offers.groupBy("p_partkey")
      .agg(min(col("offer_e4")).as("best_e4"))
    val winner = offers.join(best, Seq("p_partkey"))
      .filter(col("offer_e4") === col("best_e4"))
      .groupBy("p_partkey", "best_e4")
      .agg(min(col("s_suppkey")).as("s_suppkey"))
    winner
      .join(Tables.load(spark, dir, "part")
          .select(col("p_partkey").as("pk"), col("p_brand")),
        col("p_partkey") === col("pk"))
      .join(eu, Seq("s_suppkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_suppkey"),
        col("s_name"), col("n_name"), col("best_e4"))
      .orderBy("p_partkey")
  }

  val q254_oracle: String =
    s"""WITH eu AS (
       |  SELECT s_suppkey, s_name, n_name
       |  FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = '$cheapestRegion'),
       |o AS (
       |  SELECT l_partkey AS p_partkey, s_suppkey,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |      * 10000 AS BIGINT) AS offer_e4
       |  FROM lineitem JOIN eu ON l_suppkey = s_suppkey),
       |b AS (SELECT p_partkey, min(offer_e4) AS best_e4 FROM o GROUP BY 1),
       |w AS (
       |  SELECT o.p_partkey, b.best_e4, min(o.s_suppkey) AS s_suppkey
       |  FROM o JOIN b ON o.p_partkey = b.p_partkey AND o.offer_e4 = b.best_e4
       |  GROUP BY 1, 2)
       |SELECT w.p_partkey, p.p_brand, w.s_suppkey, eu.s_name, eu.n_name,
       |  w.best_e4
       |FROM w
       |JOIN part p ON p.p_partkey = w.p_partkey
       |JOIN eu ON eu.s_suppkey = w.s_suppkey
       |ORDER BY w.p_partkey""".stripMargin

  // ---------- q266: late-order priority count (TPC-H Q4 shape) ----------

  /** Lateness threshold (days past the order date). */
  val lateDays = 60

  /** Per order priority, the 1997-Q1 orders with AT LEAST ONE line
    * shipped more than [[lateDays]] days after the order was placed —
    * TPC-H Q4's EXISTS shape on the columns this corpus carries
    * (shipdate vs orderdate instead of commit vs receipt). The EXISTS
    * is a LEFT SEMI join with the correlated lateness predicate IN the
    * join condition, so an order is counted once no matter how many
    * of its lines are late — never a count-then-dedup.
    *
    * Scale shape: orders date-prune at the scan (quarter predicate
    * pushes to parquet); the semi-join shuffles both fact tables on
    * orderkey, un-hinted (AQE decides); the report is a ≤5-row
    * priority rollup.
    */
  def q266_late_order_priorities(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1997-01-01 00:00:00"))
    val hi = to_timestamp(lit("1997-04-01 00:00:00"))
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    orders.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("long").as("n_late_orders"))
      .orderBy("o_orderpriority")
  }

  val q266_oracle: String =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
       |FROM orders o
       |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND l.l_shipdate > o.o_orderdate + INTERVAL $lateDays DAYS)
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------- q274: discount-band revenue effect (TPC-H Q6 shape) ----------

  /** The pure-scan aggregate of the TPC-H set — Q6's "what would
    * dropping these discounts have earned": one year of lineitem,
    * a discount band, a quantity cap, revenue = Σ extendedprice ×
    * discount, exact in e4 units with the double only in the final
    * cast. THE pushdown witness: every predicate is a scan-level
    * filter (shipdate/discount/quantity all reach parquet), there is
    * no join and no shuffle beyond the 1-row aggregate — at 100 TB
    * this runs at IO speed or the plan is wrong.
    */
  def q274_discount_revenue(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1996-01-01 00:00:00"))
    val hi = to_timestamp(lit("1997-01-01 00:00:00"))
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
        col("l_discount").cast(dec4) >= lit(0.05).cast(dec4) &&
        col("l_discount").cast(dec4) <= lit(0.07).cast(dec4) &&
        col("l_quantity") < 24)
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum((price * disc * 10000).cast("long")).cast("long").as("revenue_e4"))
      .select(col("n_lines"), col("revenue_e4"),
        (col("revenue_e4").cast("double") / 10000.0).as("revenue"))
  }

  val q274_oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)) AS BIGINT)
      |    AS revenue_e4,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)) AS DOUBLE)
      |    / 10000.0 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---------- q275: shipping-priority top orders (TPC-H Q3 shape) ----------

  /** Report size and the Q3 date fence. */
  val shipPriorityK = 10
  val shipPriorityCut = "1996-07-01 00:00:00"

  /** The Q3 composition on this corpus's columns: for BUILDING-segment
    * customers, orders placed BEFORE the cut whose lines shipped
    * AFTER it (the in-flight backlog on the cut date), ranked by
    * line revenue — the top-[[shipPriorityK]] unshipped-value orders.
    * Revenue sums exact e4 units; the report orders by (revenue_e4
    * DESC, o_orderkey) — a total order, so TakeOrdered is
    * deterministic cross-engine.
    *
    * Scale shape: both fact joins shuffle on their keys un-hinted
    * (customer scales with the corpus — AQE decides); orders
    * date-prune at the scan; top-K rides orderBy+limit, never a
    * global window.
    */
  def q275_ship_priority(spark: SparkSession, dir: String): DataFrame = {
    val cut = to_timestamp(lit(shipPriorityCut))
    val cust = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        (price * (one - disc) * 10000).cast("long").as("rev_e4"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(
        max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("o_orderdate"),
        sum(col("rev_e4")).cast("long").as("revenue_e4"),
        count(lit(1)).cast("long").as("n_lines"))
      .orderBy(col("revenue_e4").desc, col("o_orderkey"))
      .limit(shipPriorityK)
  }

  val q275_oracle: String =
    s"""SELECT o_orderkey,
       |  strftime(max(o_orderdate), '%Y-%m-%d') AS o_orderdate,
       |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |    * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
       |  CAST(count(*) AS BIGINT) AS n_lines
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '$shipPriorityCut'
       |  AND l_shipdate > TIMESTAMP '$shipPriorityCut'
       |GROUP BY o_orderkey
       |ORDER BY revenue_e4 DESC, o_orderkey LIMIT $shipPriorityK""".stripMargin

  // ---------- q277: nation-pair trade volume (TPC-H Q7 shape) ----------

  /** The two trading nations (Q7 fixes FRANCE/GERMANY; the synthetic
    * corpus's domain is NATION_i). The pair is chosen live in BOTH
    * directions at every SF (measured 13/14 lines at sf0.001) so the
    * correctness gate never passes on an empty result. */
  val tradePair: (String, String) = ("NATION_13", "NATION_19")

  /** Shipped revenue between two nations per direction per year: a
    * supplier in one nation shipping to a customer in the other,
    * 1996–1997. The Q7 chain — lineitem→supplier and
    * lineitem→orders→customer — with BOTH endpoint nations fixed, so
    * the nation filters prune supplier and customer to ~2/25 of the
    * corpus BEFORE the fact joins.
    *
    * Scale shape: two fact-to-fact joins shuffled on their keys
    * (supplier and customer scale with the corpus — un-hinted; the
    * nation lookup itself is the broadcast, 25 rows at any SF); the
    * ship-year fence prunes the lineitem scan; the report is a
    * (2 directions × 2 years)-row rollup. Revenue exact in e4 units.
    */
  def q277_nation_trade(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1996-01-01 00:00:00"))
    val hi = to_timestamp(lit("1998-01-01 00:00:00"))
    val pair = Seq(tradePair._1, tradePair._2)
    val nation = Tables.load(spark, dir, "nation")
      .filter(col("n_name").isin(pair: _*))
    val supp = Tables.load(spark, dir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.load(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_orderkey"), col("l_suppkey"),
        date_format(col("l_shipdate"), "yyyy").as("l_year"),
        (price * (one - disc) * 10000).cast("long").as("rev_e4"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(col("rev_e4")).cast("long").as("revenue_e4"))
      .withColumn("revenue", col("revenue_e4").cast("double") / 10000.0)
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q277_oracle: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  strftime(l_shipdate, '%Y') AS l_year,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |    * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
       |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |    * 10000 AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND n1.n_name IN ('${tradePair._1}', '${tradePair._2}')
       |  AND n2.n_name IN ('${tradePair._1}', '${tradePair._2}')
       |  AND n1.n_name <> n2.n_name
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------- q278: market share (TPC-H Q8 shape) ----------

  /** The Q8 knobs: the market (customer region), the nation whose
    * share is asked, and the product slice. */
  val marketRegion = "ASIA"
  val shareNation = "NATION_5"
  val sharePartType = "PROMO"

  /** [[shareNation]]'s supplier share of the [[marketRegion]] market
    * for [[sharePartType]] parts, per order year: the numerator and
    * denominator are the SAME volume sum split by supplier nation, so
    * share is computed from one joined pass. The share itself is an
    * exact ppm integer: numerator·10⁶ DIV denominator with the product
    * in DECIMAL(38,0) (int64 would overflow past ~9.2e12 e4-units,
    * reachable at the 100 TB fact scale).
    *
    * Scale shape: part/orders prune at their scans; the fact joins
    * shuffle un-hinted; the only explicit broadcasts are nation and
    * the 25-row nation⋈region market lookup — bounded domains at any
    * SF. The report is |years| rows.
    */
  def q278_market_share(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1996-01-01 00:00:00"))
    val hi = to_timestamp(lit("1998-01-01 00:00:00"))
    val nation = Tables.load(spark, dir, "nation")
    val market = nation
      .join(Tables.load(spark, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === marketRegion)
      .select(col("n_nationkey").as("mkt_nationkey"))
    val cust = Tables.load(spark, dir, "customer")
      .join(broadcast(market), col("c_nationkey") === col("mkt_nationkey"))
      .select(col("c_custkey"))
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy").as("o_year"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    val prt = Tables.load(spark, dir, "part")
      .filter(col("p_type") === sharePartType)
      .select(col("p_partkey"))
    val supp = Tables.load(spark, dir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === shareNation).as("is_target"))
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (price * (one - disc) * 10000).cast("long").as("rev_e4"))
      .join(prt, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(
        sum(col("rev_e4")).cast("long").as("total_e4"),
        sum(when(col("is_target"), col("rev_e4")).otherwise(0L))
          .cast("long").as("nation_e4"))
      .withColumn("share_ppm",
        floor(col("nation_e4").cast(DecimalType(38, 0)) * 1000000
          / col("total_e4")).cast("long"))
      .orderBy("o_year")
  }

  val q278_oracle: String = {
    val e4 = """CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |    * 10000 AS BIGINT)""".stripMargin
    s"""SELECT strftime(o_orderdate, '%Y') AS o_year,
       |  CAST(sum($e4) AS BIGINT) AS total_e4,
       |  CAST(sum(CASE WHEN n1.n_name = '$shareNation' THEN $e4
       |    ELSE 0 END) AS BIGINT) AS nation_e4,
       |  CAST(floor(CAST(sum(CASE WHEN n1.n_name = '$shareNation' THEN $e4
       |      ELSE 0 END) AS DECIMAL(38,0)) * 1000000
       |    / sum($e4)) AS BIGINT) AS share_ppm
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |JOIN region ON n2.n_regionkey = r_regionkey
       |WHERE p_type = '$sharePartType'
       |  AND r_name = '$marketRegion'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1 ORDER BY o_year""".stripMargin
  }

  // ---------- q279: retail-margin profit (TPC-H Q9 shape) ----------

  /** Q9's product-profit rollup on this corpus's columns: the schema
    * has no partsupp/ps_supplycost, so "cost" is the part's LIST price
    * — margin = Σ(extendedprice·(1−discount) − quantity·retailprice),
    * the realized-vs-list margin per supplier nation per ship year
    * (negative where discounting sold below list). Exact e4 units
    * throughout; the part-name slice is Q9's '%green%' pattern on this
    * corpus's vocabulary.
    *
    * Scale shape: the name LIKE prunes part at its scan; lineitem
    * joins part and supplier on their keys un-hinted (both
    * corpus-scaled); nation broadcasts; the report is ≤ 25·|years|
    * rows.
    */
  def q279_retail_margin(spark: SparkSession, dir: String): DataFrame = {
    val prt = Tables.load(spark, dir, "part")
      .filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.load(spark, dir, "supplier")
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        date_format(col("l_shipdate"), "yyyy").as("l_year"),
        (price * (one - disc) * 10000).cast("long").as("rev_e4"),
        col("l_quantity"))
      .join(prt, col("l_partkey") === col("p_partkey"))
      .withColumn("cost_e4",
        (col("l_quantity").cast(dec18) * col("p_retailprice").cast(dec18)
          * 10000).cast("long"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name", "l_year")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(col("rev_e4") - col("cost_e4")).cast("long").as("margin_e4"))
      .withColumn("margin", col("margin_e4").cast("double") / 10000.0)
      .orderBy("n_name", "l_year")
  }

  val q279_oracle: String =
    """SELECT n_name, strftime(l_shipdate, '%Y') AS l_year,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |      * 10000 AS BIGINT)
      |    - CAST(CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(p_retailprice AS DECIMAL(18,2)) * 10000 AS BIGINT))
      |    AS BIGINT) AS margin_e4,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |      * 10000 AS BIGINT)
      |    - CAST(CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(p_retailprice AS DECIMAL(18,2)) * 10000 AS BIGINT))
      |    AS DOUBLE) / 10000.0 AS margin
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2 ORDER BY n_name, l_year""".stripMargin

  // ---------- q280: bracket revenue (TPC-H Q19 shape) ----------

  /** Q19's OR-of-ANDs bracket predicate: three (brand, size range,
    * quantity range) brackets, revenue over the lines matching ANY —
    * the disjunctive-pushdown witness. The brand/size legs are
    * part-side (prune the part scan: Catalyst extracts the common
    * disjunction `p_size BETWEEN 1 AND 15` and the brand IN-list);
    * the quantity legs are lineitem-side; the cross-side conjunction
    * rides the join condition so non-matching pairs die IN the join,
    * never materializing. Output is ONE exact row.
    */
  def q280_bracket_revenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val prt = Tables.load(spark, dir, "part")
    val bracket =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(prt, col("l_partkey") === col("p_partkey") && bracket)
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum((price * (one - disc) * 10000).cast("long"))
          .cast("long").as("revenue_e4"))
      .select(col("n_lines"), col("revenue_e4"),
        (col("revenue_e4").cast("double") / 10000.0).as("revenue"))
  }

  val q280_oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |    * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |    * 10000 AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ---------- q281: promo revenue share per month (TPC-H Q14 shape) ----------

  /** Per ship month, the exact ppm of revenue carried by PROMO-type
    * parts — Q14's promo_revenue with the division done ONCE per month
    * row on exact integers (numerator·10⁶ in DECIMAL(38,0) — the
    * overflow-safe rule every ppm in the suite follows).
    *
    * Scale shape: one partkey-keyed join (both sides corpus-scaled,
    * un-hinted — part carries only (key, is-promo)), then a
    * partial-agg rollup to the MONTH axis (calendar-bounded).
    */
  def q281_promo_share(spark: SparkSession, dir: String): DataFrame = {
    val prt = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), (col("p_type") === sharePartType).as("is_promo"))
    Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        (price * (one - disc) * 10000).cast("long").as("rev_e4"))
      .join(prt, col("l_partkey") === col("p_partkey"))
      .groupBy("ship_month")
      .agg(
        sum(col("rev_e4")).cast("long").as("total_e4"),
        sum(when(col("is_promo"), col("rev_e4")).otherwise(0L))
          .cast("long").as("promo_e4"))
      .withColumn("promo_ppm",
        floor(col("promo_e4").cast(DecimalType(38, 0)) * 1000000
          / col("total_e4")).cast("long"))
      .orderBy("ship_month")
  }

  val q281_oracle: String = {
    val e4 = """CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |    * 10000 AS BIGINT)""".stripMargin
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       |  CAST(sum($e4) AS BIGINT) AS total_e4,
       |  CAST(sum(CASE WHEN p_type = '$sharePartType' THEN $e4 ELSE 0 END)
       |    AS BIGINT) AS promo_e4,
       |  CAST(floor(CAST(sum(CASE WHEN p_type = '$sharePartType' THEN $e4
       |      ELSE 0 END) AS DECIMAL(38,0)) * 1000000 / sum($e4)) AS BIGINT)
       |    AS promo_ppm
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY 1 ORDER BY ship_month""".stripMargin
  }

  // ---------- q282: supplier diversity (TPC-H Q16 shape) ----------

  /** How many distinct suppliers actually shipped each (brand, type,
    * size) slice — Q16's supplier_cnt computed from the FACT table
    * (the schema has no partsupp; shipped lines are the realized
    * catalog). One excluded brand, Q16's shape. The report axis is
    * the bounded part-attribute domain (|brands|·|types|·|sizes|),
    * never row-scaled.
    *
    * Scale shape: one partkey join (un-hinted), then a two-level
    * distinct aggregate — partial by (brand, type, size, suppkey),
    * final count per (brand, type, size). Ordered by diversity for
    * the report.
    */
  def q282_supplier_diversity(spark: SparkSession, dir: String): DataFrame = {
    val prt = Tables.load(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#1")
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(prt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q282_oracle: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1'
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---------- q290: priority-split line counts (TPC-H Q12 shape) ----------

  /** Q12's essence over this schema — "are critical-priority orders
    * actually shipping" as a two-way conditional count per category:
    * one shipping year of lineitem, each line attributed to its
    * order's priority class (1-URGENT/2-HIGH vs the rest), restricted
    * to lines shipped strictly AFTER their order date (the temporal-
    * sanity fence this schema can express; Q12's commit/receipt-date
    * chain has no columns here). Counted per l_returnflag in place of
    * l_shipmode, which the schema also lacks.
    *
    * Scale shape: the ship-year fence prunes the lineitem scan at the
    * parquet reader; the orders join is fact-to-fact shuffled on
    * orderkey (both sides corpus-scaled — un-hinted, AQE decides) with
    * the cross-side date comparison riding the join condition; the
    * priority split is a CASE inside ONE partial agg — the report is
    * |returnflag| rows.
    */
  def q290_priority_lines(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1996-01-01 00:00:00"))
    val hi = to_timestamp(lit("1997-01-01 00:00:00"))
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(orders, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate"))
      .groupBy("l_returnflag")
      .agg(
        count(when(isHigh, 1)).cast("long").as("high_line_count"),
        count(when(!isHigh, 1)).cast("long").as("low_line_count"))
      .orderBy("l_returnflag")
  }

  val q290_oracle: String =
    s"""SELECT l_returnflag,
       |  CAST(count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 1 END) AS BIGINT) AS high_line_count,
       |  CAST(count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |    THEN 1 END) AS BIGINT) AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  AND l_shipdate > o_orderdate
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------- q301: dominant promo suppliers (TPC-H Q20 shape) ----------

  /** Q20's essence over this schema — "which suppliers carry an
    * outsized share of the promo-part supply" as a nested-aggregate
    * semi-join: within one shipping year, a supplier DOMINATES a
    * PROMO part when its shipped quantity strictly exceeds half the
    * part's total across all suppliers (Q20's `availqty > 0.5 ×
    * sum(l_quantity)` excess-stock test, re-read against lineitem
    * because this schema has no partsupp). The report rolls dominated
    * parts up per supplier with nation attached — the supply-risk
    * list a buyer actually acts on.
    *
    * Scale shape: the ship-year fence prunes the lineitem scan at the
    * parquet reader; the promo filter rides the part join (un-hinted
    * fact-to-catalog, AQE broadcasts while small). The per-(part,
    * supplier) aggregate is ONE partial-agg shuffle, the per-part
    * total is derived FROM that aggregate (pair-table-sized work,
    * never a second corpus pass), and the dominance join is
    * co-partitioned on partkey. Quantities are integral: the
    * `2·sq > tq` test runs on exact longs, division-free.
    */
  def q301_dominant_suppliers(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1998-01-01 00:00:00"))
    val hi = to_timestamp(lit("1999-01-01 00:00:00"))
    val promo = Tables.load(spark, dir, "part")
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("q"))
      .join(promo, col("l_partkey") === col("p_partkey"))
    val perSupp = li.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("q")).as("sq"))
    val perPart = perSupp.groupBy("l_partkey")
      .agg(sum(col("sq")).as("tq"))
    val supp = Tables.load(spark, dir, "supplier")
      .join(Tables.load(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    perSupp.join(perPart, Seq("l_partkey"))
      .filter(col("sq") * 2 > col("tq"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).cast("long").as("n_parts_dominated"),
        sum(col("sq")).cast("long").as("qty_dominated"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("n_parts_dominated"), col("qty_dominated"))
      .orderBy(col("n_parts_dominated").desc, col("s_suppkey"))
  }

  val q301_oracle: String =
    """WITH li AS (
      |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'PROMO'
      |    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'),
      |ps AS (SELECT l_partkey, l_suppkey, sum(q) AS sq
      |  FROM li GROUP BY 1, 2),
      |pt AS (SELECT l_partkey, sum(sq) AS tq FROM ps GROUP BY 1)
      |SELECT s_suppkey, s_name, n_name,
      |  CAST(count(*) AS BIGINT) AS n_parts_dominated,
      |  CAST(sum(sq) AS BIGINT) AS qty_dominated
      |FROM ps JOIN pt USING (l_partkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE 2 * sq > tq
      |GROUP BY s_suppkey, s_name, n_name
      |ORDER BY n_parts_dominated DESC, s_suppkey""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q301_dominant_suppliers" -> (q301_dominant_suppliers _),
    "q290_priority_lines" -> (q290_priority_lines _),
    "q277_nation_trade" -> (q277_nation_trade _),
    "q278_market_share" -> (q278_market_share _),
    "q279_retail_margin" -> (q279_retail_margin _),
    "q280_bracket_revenue" -> (q280_bracket_revenue _),
    "q281_promo_share" -> (q281_promo_share _),
    "q282_supplier_diversity" -> (q282_supplier_diversity _),
    "q274_discount_revenue" -> (q274_discount_revenue _),
    "q275_ship_priority" -> (q275_ship_priority _),
    "q266_late_order_priorities" -> (q266_late_order_priorities _),
    "q254_cheapest_supplier" -> (q254_cheapest_supplier _),
    "q236_small_qty_revenue" -> (q236_small_qty_revenue _),
    "q237_value_share" -> (q237_value_share _),
    "q238_rich_no_orders" -> (q238_rich_no_orders _),
    "q239_max_revenue_supplier" -> (q239_max_revenue_supplier _),
    "q240_returned_top_customers" -> (q240_returned_top_customers _))

  val oracles: Map[String, String] = Map(
    "q301_dominant_suppliers" -> q301_oracle,
    "q290_priority_lines" -> q290_oracle,
    "q277_nation_trade" -> q277_oracle,
    "q278_market_share" -> q278_oracle,
    "q279_retail_margin" -> q279_oracle,
    "q280_bracket_revenue" -> q280_oracle,
    "q281_promo_share" -> q281_oracle,
    "q282_supplier_diversity" -> q282_oracle,
    "q266_late_order_priorities" -> q266_oracle,
    "q274_discount_revenue" -> q274_oracle,
    "q275_ship_priority" -> q275_oracle,
    "q254_cheapest_supplier" -> q254_oracle,
    "q236_small_qty_revenue" -> q236_oracle,
    "q237_value_share" -> q237_oracle,
    "q238_rich_no_orders" -> q238_oracle,
    "q239_max_revenue_supplier" -> q239_oracle,
    "q240_returned_top_customers" -> q240_oracle)
}
