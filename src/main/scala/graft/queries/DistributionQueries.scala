package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution / window-frame analytics (SURVEY §2 #56–#59).
  */
object DistributionQueries extends graft.QueryFamily {

  private val dec18 = DecimalType(18, 2)

  // ---------- q56: fixed-width histogram ----------

  /** Value histogram per event type (bin width 50): the profile scan
    * behind any data-quality dashboard. floor() on doubles is exact in
    * both engines; min/max are order-insensitive, so the whole row is
    * deterministic with no decimal detour. One partial-agg shuffle of
    * |types|·|bins| rows.
    */
  def q56_histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("bin", floor(col("value") / 50).cast("int"))
      .groupBy("event_type", "bin")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("value")).as("bin_min"),
        max(col("value")).as("bin_max"))
      .orderBy("event_type", "bin")

  val q56_oracle: String =
    """SELECT event_type, CAST(floor(value / 50) AS INTEGER) AS bin,
      |  count(*) AS n_events, min(value) AS bin_min, max(value) AS bin_max
      |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  // ---------- q57: rolling window frame ----------

  /** Rolling 4-event aggregate per user (ROWS BETWEEN 3 PRECEDING AND
    * CURRENT ROW) — the physical-frame complement of q39's time-hop
    * windows. The frame sum runs in DECIMAL so partial order can't
    * perturb it; the average divides the exact sum by the exact frame
    * count as the last (double) step.
    */
  def q57_rolling(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-3, Window.currentRow)
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("roll_sum", sum(col("value").cast(dec18)).over(w))
      .withColumn("roll_n", count(lit(1)).over(w))
      .select(
        col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("roll_sum").cast("double").as("roll_sum"),
        (col("roll_sum").cast("double") / col("roll_n").cast("double")).as("roll_avg"))
      .orderBy("user_id", "event_id")
  }

  val q57_oracle: String =
    """SELECT user_id, event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  CAST(roll_sum_dec AS DOUBLE) AS roll_sum,
      |  CAST(roll_sum_dec AS DOUBLE) / CAST(roll_n AS DOUBLE) AS roll_avg
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    sum(CAST(value AS DECIMAL(18,2))) OVER w AS roll_sum_dec,
      |    count(*) OVER w AS roll_n
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
      |ORDER BY user_id, event_id""".stripMargin

  // ---------- q58: ntile deciles ----------

  /** Customer-spend deciles via ntile(10) over exact decimal totals —
    * ordering is (spend, custkey), a total order, so tile assignment
    * is deterministic; per-decile aggregates are exact.
    *
    * Scale shape: the tile comes from the exact global rank via
    * [[graft.operators.RangeRank]] (sample-boundary buckets + offset
    * windows — no single-task ntile sort) and the SQL NTILE formula
    * over (rank, n); tile assignments are bit-identical to the window
    * form because the ordering is a total order.
    */
  def q58_ntile(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val spend = Tables.load(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(dec18)).as("spend"))
    RangeRank.rank(spend, Nil,
        Seq(RangeRank.Key("spend"), RangeRank.Key("o_custkey")), "__rnk", "__n")
      .withColumn("decile", RangeRank.ntileFromRank("__rnk", "__n", 10))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_customers"),
        min(col("spend")).cast("double").as("min_spend"),
        max(col("spend")).cast("double").as("max_spend"))
      .orderBy("decile")
  }

  val q58_oracle: String =
    """SELECT decile, count(*) AS n_customers,
      |  CAST(min(spend) AS DOUBLE) AS min_spend,
      |  CAST(max(spend) AS DOUBLE) AS max_spend
      |FROM (
      |  SELECT o_custkey, spend,
      |    ntile(10) OVER (ORDER BY spend ASC, o_custkey ASC) AS decile
      |  FROM (
      |    SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |    FROM orders GROUP BY o_custkey))
      |GROUP BY decile ORDER BY decile""".stripMargin

  // ---------- q59: correlated aggregate ----------

  /** Orders above the customer's own average: the correlated-subquery
    * shape, planned as one window pass instead of a per-row rescan.
    * The predicate is price · n > total — multiplication instead of an
    * avg division keeps the comparison in exact decimal arithmetic, so
    * both engines agree bit-for-bit.
    */
  def q59_correlated(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice").cast(dec18).as("price"))
      .withColumn("total", sum(col("price")).over(byCust))
      .withColumn("n", count(lit(1)).over(byCust))
      .groupBy("o_custkey")
      .agg(
        max(col("n")).as("n_orders"),
        count(when(col("price") * col("n") > col("total"), 1)).as("n_above_avg"))
      .orderBy("o_custkey")
  }

  val q59_oracle: String =
    """SELECT o_custkey, max(n) AS n_orders,
      |  count(CASE WHEN price * n > total THEN 1 END) AS n_above_avg
      |FROM (
      |  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS total,
      |    count(*) OVER (PARTITION BY o_custkey) AS n
      |  FROM orders)
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---------- registry ----------

  // ---------- q105: exact z-score outlier detection ----------

  /** Statistical outlier detection WITHOUT floats (round 8): flag
    * events whose value sits more than k=1.5 standard deviations from
    * their event-type mean. The z-test is algebraically cleared of
    * divisions and square roots —
    * `|x − μ| > k·σ  ⟺  4·(n·x − S)² > 9·(n·Q − S²)` for k = 3/2,
    * with S = Σx, Q = Σx² over the group — so every comparison is
    * integer arithmetic on value-cents (wide products in
    * decimal(38,0) / HUGEINT; nothing rounds, nothing depends on
    * accumulation order, and Spark and DuckDB agree bit-for-bit where
    * any sqrt-based formulation would drift).
    *
    * Scale shape: one partial-agg pass builds the |types|-row moment
    * table (n, S, Q), which broadcasts back over the scan — two scans
    * of events total, zero wide shuffles, the same two-pass shape as
    * any variance computation. The threshold k is the declared knob;
    * per-key moments make this the grouped form of a data-quality
    * anomaly monitor.
    */
  def q105_anomaly(spark: SparkSession, dir: String): DataFrame =
    detectOutliers(Tables.load(spark, dir, "events")).orderBy("event_type")

  /** The detection core over any (event_type, event_id, value) frame —
    * factored out so ZScoreSpec can pin the cleared-form algebra on a
    * fixture with a planted outlier.
    */
  private[queries] def detectOutliers(events: DataFrame): DataFrame = {
    val dec38 = "decimal(38,0)"
    val e = events
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    // Σcents² is summed in decimal(38,0), not LongType: cents² is
    // ~1e10 for 4-digit values, so a LongType sum overflows around
    // 1e9 rows per group — the 100 TB posture needs the moment table
    // itself overflow-safe, not just the comparison (the oracle's
    // HUGEINT sum is the same widening)
    val moments = e.groupBy("event_type").agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("cents")).cast("long").as("s"),
      sum(col("cents").cast(dec38) * col("cents")).as("q"))
    val dev = (col("n").cast(dec38) * col("cents") - col("s")).cast(dec38)
    val outlier =
      dev * dev * 4 >
        (col("n").cast(dec38) * col("q") - col("s").cast(dec38) * col("s")) * 9
    e.join(broadcast(moments), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        max(col("n")).as("n_events"),
        count_if(outlier).cast("long").as("n_outliers"),
        coalesce(sum(when(outlier, col("event_id"))), lit(0L)).cast("long")
          .as("outlier_id_sum"))
  }

  /** outlier_id_sum pins the exact outlier SET through the hash
    * compare, not just its size.
    */
  val q105_oracle: String =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS s,
      |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
      |  FROM e GROUP BY event_type),
      |flagged AS (
      |  SELECT e.event_type, e.event_id, m.n,
      |    4 * (CAST(m.n AS HUGEINT) * e.cents - m.s)
      |      * (CAST(m.n AS HUGEINT) * e.cents - m.s)
      |    > 9 * (CAST(m.n AS HUGEINT) * m.q - CAST(m.s AS HUGEINT) * m.s)
      |      AS is_outlier
      |  FROM e JOIN m USING (event_type))
      |SELECT event_type, max(n) AS n_events,
      |  CAST(count(*) FILTER (WHERE is_outlier) AS BIGINT) AS n_outliers,
      |  CAST(coalesce(sum(event_id) FILTER (WHERE is_outlier), 0) AS BIGINT)
      |    AS outlier_id_sum
      |FROM flagged GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- q130: last-observation-carried-forward imputation ----------

  /** LOCF imputation — the standard missing-feature fill of training
    * data prep, here in its attribution form: every event carries the
    * user's most recent PURCHASE value at that point in the timeline
    * (NULL until the first purchase). `last(..., ignoreNulls)` over a
    * running frame is the declarative LOCF; the (ts, event_id)
    * ordering makes the frame total-ordered (the q128 tiebreak rule),
    * and the carried value is passed through UNCHANGED — no float
    * arithmetic, so doubles hash-match cross-engine.
    *
    * Scale shape: ONE shuffle partitioned by user (each timeline
    * sorts within its partition, no global sort) and a running-frame
    * window that streams each partition once — state is one value per
    * user. AQE splits power-user skew.
    */
  def q130_locf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("value"))
      .withColumn("last_purchase_value",
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w))
      .select("event_id", "user_id", "event_type", "value", "last_purchase_value")
      .orderBy("event_id")
  }

  val q130_oracle: String =
    """SELECT event_id, user_id, event_type, value,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS last_purchase_value
      |FROM events ORDER BY event_id""".stripMargin

  // ---------- q141: exact two-sample KS drift ----------

  /** Data-independent period boundary splitting the event stream into
    * a reference window (before) and a comparison window (after) —
    * pinned, not max(ts)/2, for the q135 anchor reason: yesterday's
    * drift report must not move when today's data arrives.
    */
  val ksSplit = "2024-01-16 00:00:00"

  /** Two-sample Kolmogorov–Smirnov drift statistic per event type —
    * the distribution-shift monitor between a reference and a current
    * period, computed EXACTLY: with sample sizes n_a/n_b and
    * cumulative counts cumA/cumB over the merged value axis,
    * `D = max |cumA/n_a − cumB/n_b| = max |cumA·n_b − cumB·n_a| / (n_a·n_b)`
    * — the numerator is an integer, so the max is found in integer
    * space and divided ONCE at the end (ppm, DIV), giving a
    * bit-identical statistic across engines where any float-CDF
    * formulation would drift in the 15th digit. `at_cents` (smallest
    * value attaining the max) pins the whole CDF walk through the
    * hash compare, not just the statistic.
    *
    * Scale shape: one partial-agg shuffle to (type, cents) counts —
    * the domain is DISTINCT VALUES, not rows (value-cents are
    * range-bounded, so the per-type cumsum window walks a bounded
    * axis no matter how many trillion events fed it); the cumulative
    * window partitions by type and the max/argmax is one tiny
    * type-sized join. Products widen to decimal(38,0) (HUGEINT in
    * the oracle) so cum·n stays exact at any n.
    */
  /** q141's per-period count table over any events frame — factored
    * so q179's streaming monitor can run it per micro-batch (counts
    * are ADDITIVE across batches, which is what makes a KS monitor
    * incrementally maintainable). */
  private[queries] def ksCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        when(col("ts") < to_timestamp(lit(ksSplit)), 1L).otherwise(0L).as("isa"))
      .groupBy("event_type", "cents")
      .agg(sum(col("isa")).cast("long").as("ca"),
        (count(lit(1)) - sum(col("isa"))).cast("long").as("cb"))

  /** The exact KS tail over a (event_type, cents, ca, cb) count
    * table — shared verbatim by q141 (one-shot) and q179 (from
    * incrementally merged state). */
  private[queries] def ksFromCounts(counts: DataFrame): DataFrame = {
    val dec38 = "decimal(38,0)"
    val cumW = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same partition+order spec as cumW so CollapseWindow folds the
    // four statistics into one WindowExec (the frame makes the order
    // irrelevant to the value — the ValueAxis rule)
    val totW = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val d = counts
      .withColumn("cuma", sum(col("ca")).over(cumW).cast(dec38))
      .withColumn("cumb", sum(col("cb")).over(cumW).cast(dec38))
      .withColumn("na", sum(col("ca")).over(totW).cast(dec38))
      .withColumn("nb", sum(col("cb")).over(totW).cast(dec38))
      .withColumn("d", abs(col("cuma") * col("nb") - col("cumb") * col("na")))
      .select("event_type", "cents", "na", "nb", "d")
    // per-group max as a SECOND window over the same partitioning
    // (d is itself a window output, so it cannot ride the first
    // WindowExec, but the follow-up pass needs no new exchange or
    // sort) — the groupBy + join-back form duplicated the whole
    // counts-and-windows subtree, scanning the input twice
    d.withColumn("dmax", max(col("d")).over(totW))
      .filter(col("d") === col("dmax"))
      .groupBy("event_type", "na", "nb", "dmax")
      .agg(min(col("cents")).as("at_cents"))
      .select(col("event_type"),
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        expr(s"CAST((dmax * 1000000) DIV (na * nb) AS BIGINT)").as("d_ppm"),
        col("at_cents"))
      .orderBy("event_type")
  }

  def q141_ks_drift(spark: SparkSession, dir: String): DataFrame =
    ksFromCounts(ksCounts(Tables.load(spark, dir, "events")))

  val q141_oracle: String =
    s"""WITH counts AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
       |    CAST(sum(CASE WHEN ts < TIMESTAMP '$ksSplit' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ca,
       |    CAST(count(*) - sum(CASE WHEN ts < TIMESTAMP '$ksSplit' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cb
       |  FROM events GROUP BY 1, 2),
       |d AS (
       |  SELECT event_type, cents,
       |    CAST(sum(ca) OVER (PARTITION BY event_type) AS HUGEINT) AS na,
       |    CAST(sum(cb) OVER (PARTITION BY event_type) AS HUGEINT) AS nb,
       |    abs(CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY cents
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
       |        * CAST(sum(cb) OVER (PARTITION BY event_type) AS HUGEINT)
       |      - CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY cents
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
       |        * CAST(sum(ca) OVER (PARTITION BY event_type) AS HUGEINT)) AS d
       |  FROM counts),
       |m AS (SELECT event_type, max(d) AS dmax FROM d GROUP BY 1)
       |SELECT d.event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  CAST((dmax * 1000000) // (na * nb) AS BIGINT) AS d_ppm,
       |  min(cents) AS at_cents
       |FROM d JOIN m ON d.event_type = m.event_type AND d.d = m.dmax
       |GROUP BY d.event_type, na, nb, dmax
       |ORDER BY 1""".stripMargin

  // ---------- q142: binned histogram drift (triangular discrimination) ----------

  /** Per-bin drift contribution threshold (micro-units) above which a
    * bin is flagged as a drift driver in the report. */
  val driftBinFlagMicro = 1000L

  /** Binned histogram drift between the same two periods as q138,
    * scored by triangular discrimination
    * `Δ(P,Q) = Σ_bins (p−q)²/(p+q)` (Topsøe 2000) — a bounded
    * f-divergence in the chi-square family, chosen over PSI because it
    * needs NO logarithm: with proportions held in exact ppm integers
    * (`c·10⁶ DIV n`), each bin's contribution
    * `((p−q)²·10⁶) DIV (p+q)` is pure integer arithmetic — products
    * peak at 10¹⁸, inside BIGINT at any corpus size, so unlike raw
    * chi-square on counts the statistic never outgrows the integer
    * width. Per-bin rows (not just the total) make the report
    * actionable: `flagged` marks the bins driving the drift.
    *
    * Scale shape: one partial-agg shuffle to (type, bin) counts —
    * |types|·|bins| rows regardless of event volume — then two
    * type-partitioned windows over that tiny table. The same shape as
    * q56's histogram with a comparison axis.
    */
  def q142_hist_drift(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "events")
      .select(col("event_type"), floor(col("value") / 50).cast("int").as("bin"),
        when(col("ts") < to_timestamp(lit(ksSplit)), 1L).otherwise(0L).as("isa"))
      .groupBy("event_type", "bin")
      .agg(sum(col("isa")).cast("long").as("ca"),
        (count(lit(1)) - sum(col("isa"))).cast("long").as("cb"))
    val totW = Window.partitionBy("event_type")
    counts
      .withColumn("pa_ppm", expr("ca * 1000000 DIV sum(ca) OVER (PARTITION BY event_type)"))
      .withColumn("pb_ppm", expr("cb * 1000000 DIV sum(cb) OVER (PARTITION BY event_type)"))
      .withColumn("contrib_micro",
        when(col("pa_ppm") + col("pb_ppm") > 0,
          expr("((pa_ppm - pb_ppm) * (pa_ppm - pb_ppm) * 1000000) DIV (pa_ppm + pb_ppm)"))
          .otherwise(lit(0L)))
      .withColumn("total_micro", sum(col("contrib_micro")).over(totW))
      .withColumn("flagged", col("contrib_micro") > driftBinFlagMicro)
      .select("event_type", "bin", "ca", "cb", "pa_ppm", "pb_ppm",
        "contrib_micro", "total_micro", "flagged")
      .orderBy("event_type", "bin")
  }

  val q142_oracle: String =
    s"""WITH counts AS (
       |  SELECT event_type, CAST(floor(value / 50) AS INTEGER) AS bin,
       |    CAST(sum(CASE WHEN ts < TIMESTAMP '$ksSplit' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ca,
       |    CAST(count(*) - sum(CASE WHEN ts < TIMESTAMP '$ksSplit' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cb
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT event_type, bin, ca, cb,
       |    CAST(ca * 1000000 // sum(ca) OVER (PARTITION BY event_type) AS BIGINT)
       |      AS pa_ppm,
       |    CAST(cb * 1000000 // sum(cb) OVER (PARTITION BY event_type) AS BIGINT)
       |      AS pb_ppm
       |  FROM counts),
       |c AS (
       |  SELECT *, CASE WHEN pa_ppm + pb_ppm > 0
       |    THEN ((pa_ppm - pb_ppm) * (pa_ppm - pb_ppm) * 1000000) // (pa_ppm + pb_ppm)
       |    ELSE 0 END AS contrib_micro
       |  FROM p)
       |SELECT event_type, bin, ca, cb, pa_ppm, pb_ppm, contrib_micro,
       |  CAST(sum(contrib_micro) OVER (PARTITION BY event_type) AS BIGINT)
       |    AS total_micro,
       |  contrib_micro > $driftBinFlagMicro AS flagged
       |FROM c ORDER BY event_type, bin""".stripMargin

  // ---------- q140: Gini concentration coefficient ----------

  /** Per-source Gini coefficient of document sizes — the corpus
    * concentration metric ("is this source a few giant documents or
    * many uniform ones?") that decides chunking and sampling policy.
    * Exact rank formula on ascending sizes:
    * `G = (2·Σ i·x_i − (n+1)·Σx_i) / (n·Σx_i)`, emitted in ppm by one
    * final DIV. Ranks tie-break on doc_id, but Σ i·x_i is INVARIANT
    * under permutations of equal x — swapping two equal values swaps
    * their ranks and leaves i·x + j·x unchanged — so the statistic is
    * genuinely order-free, not just tie-broken-deterministic.
    *
    * Scale shape: Σ rank·x is computed from the DISTINCT-n_chars axis
    * ([[graft.operators.ValueAxis]]): a value x occupying ranks
    * `lo+1 … lo+cnt` contributes x·(cnt·lo + cnt(cnt+1)/2) — exactly
    * the permutation-invariance argument above made operational, so
    * no raw-row window keyed by the 4 sources; the only window runs
    * over the axis, bounded by the document-length domain. Products
    * in decimal(38,0): Σ rank·x ≤ n²·x_max needs ~2× BIGINT's width
    * at n ~ 10¹² (the triangular term is halved in LONG space first —
    * cnt·(cnt+1) is even, so `DIV 2` on the even factor is exact).
    */
  def q140_gini(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ValueAxis
    val dec38 = "decimal(38,0)"
    val ax = ValueAxis.axis(
      Tables.load(spark, dir, "documents").select(col("source"), col("n_chars")),
      Seq("source"), "n_chars")
    // Σ_{i=lo+1..lo+cnt} i = cnt·lo + cnt(cnt+1)/2, in dec38 without
    // a decimal integral-divide (IntegralDivide narrows to BIGINT)
    val rankSum = expr(
      s"""CAST(cnt AS $dec38) * lo +
         | CASE WHEN cnt % 2 = 0
         |   THEN CAST(cnt DIV 2 AS $dec38) * (cnt + 1)
         |   ELSE CAST(cnt AS $dec38) * ((cnt + 1) DIV 2) END"""
        .stripMargin.replace("\n", " "))
    ax.withColumn("rank_sum", rankSum)
      .groupBy("source")
      .agg(sum(col("cnt")).cast("long").as("n_docs"),
        sum(col("cnt") * col("n_chars")).cast("long").as("chars_sum"),
        sum(col("rank_sum") * col("n_chars")).cast(dec38).as("s1"))
      .select(col("source"), col("n_docs"), col("chars_sum"),
        expr("CAST(((2 * s1 - (CAST(n_docs AS decimal(38,0)) + 1) * chars_sum) * 1000000) " +
          "DIV (CAST(n_docs AS decimal(38,0)) * chars_sum) AS BIGINT)").as("gini_ppm"))
      .orderBy("source")
  }

  val q140_oracle: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rnk
      |  FROM documents),
      |a AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |    CAST(sum(CAST(rnk AS HUGEINT) * n_chars) AS HUGEINT) AS s1
      |  FROM r GROUP BY source)
      |SELECT source, n_docs, chars_sum,
      |  CAST(((2 * s1 - (CAST(n_docs AS HUGEINT) + 1) * chars_sum) * 1000000)
      |    // (CAST(n_docs AS HUGEINT) * chars_sum) AS BIGINT) AS gini_ppm
      |FROM a ORDER BY source""".stripMargin

  // ---------- q145: exact winsorized statistics ----------

  /** Winsorized per-group statistics — the robust-mean preprocessing
    * step (clip at exact p05/p95 before aggregating, so a fat tail
    * can't own the mean): the clip thresholds are EXACT order
    * statistics by rank arithmetic (lo = value at rank ⌈n/20⌉, hi =
    * at ⌈19n/20⌉ — the q32 rule; the value AT a rank is deterministic
    * regardless of tie order), applied as a broadcast of the
    * |groups|-row bounds table back over the scan. Clipped and raw
    * sums ride decimal(38,0) so the report is overflow-safe at any
    * group size.
    *
    * Scale shape: the thresholds come from the DISTINCT-cents axis
    * ([[graft.operators.ValueAxis]] — one hash aggregation plus a
    * window bounded by the cents DOMAIN, never a raw-row sort keyed
    * by the ~5 event types), then one re-scan with the broadcast
    * bounds. The value at a rank is tie-order invariant, so the axis
    * form returns bit-identical thresholds to the old rank window.
    */
  def q145_winsorize(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ValueAxis
    val dec38 = "decimal(38,0)"
    val e = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    // every output statistic is a function of the (cents → cnt) axis,
    // so the axis is materialized ONCE (Lineage.cut — it is bounded by
    // the cents domain) and both the threshold lookup and the clipped
    // rollup read it; the old form re-scanned the events table to
    // aggregate raw rows the axis already summarizes (guide §2.4)
    val ax = graft.Lineage.cut(
      ValueAxis.axis(e, Seq("event_type"), "cents"))
    val bounds = ax
      .groupBy("event_type")
      .agg(
        ValueAxis.valueAtRank("cents", expr("(n + 19) DIV 20"))
          .as("lo_cents"),
        ValueAxis.valueAtRank("cents", expr("(19 * n + 19) DIV 20"))
          .as("hi_cents"))
    val clipped = least(greatest(col("cents"), col("lo_cents")), col("hi_cents"))
    ax.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(
        sum(col("cnt")).cast("long").as("n"),
        max(col("lo_cents")).as("lo_cents"),
        max(col("hi_cents")).as("hi_cents"),
        sum(when(col("cents") < col("lo_cents"), col("cnt")).otherwise(0L))
          .cast("long").as("n_clip_lo"),
        sum(when(col("cents") > col("hi_cents"), col("cnt")).otherwise(0L))
          .cast("long").as("n_clip_hi"),
        sum(col("cents").cast(dec38) * col("cnt")).cast("long").as("cents_sum"),
        sum(clipped.cast(dec38) * col("cnt")).cast("long").as("wins_sum"))
      .orderBy("event_type")
  }

  val q145_oracle: String =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id)
      |      AS rnk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |b AS (
      |  SELECT event_type,
      |    min(CASE WHEN rnk = (n + 19) // 20 THEN cents END) AS lo_cents,
      |    min(CASE WHEN rnk = (19 * n + 19) // 20 THEN cents END) AS hi_cents
      |  FROM r WHERE rnk = (n + 19) // 20 OR rnk = (19 * n + 19) // 20
      |  GROUP BY event_type)
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
      |  max(lo_cents) AS lo_cents, max(hi_cents) AS hi_cents,
      |  CAST(count(*) FILTER (WHERE cents < lo_cents) AS BIGINT) AS n_clip_lo,
      |  CAST(count(*) FILTER (WHERE cents > hi_cents) AS BIGINT) AS n_clip_hi,
      |  CAST(sum(cents) AS BIGINT) AS cents_sum,
      |  CAST(sum(least(greatest(cents, lo_cents), hi_cents)) AS BIGINT)
      |    AS wins_sum
      |FROM e JOIN b USING (event_type)
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  // ---------- q146: equi-depth histogram ----------

  /** Equi-depth (equi-height) histogram per group — the ANALYZE-stats
    * structure query optimizers and drift monitors prefer over q56's
    * fixed-width bins (every bucket carries the same row count, so
    * resolution follows density): bucket of a row =
    * `((rank−1)·8) DIV n` over the total (cents, event_id) order —
    * pure rank arithmetic, no boundary search, bucket populations
    * exact to ±1 by construction. Per-bucket lo/hi expose the
    * boundary values.
    *
    * Scale shape: the whole histogram is a function of the
    * DISTINCT-cents axis ([[graft.operators.ValueAxis]]): a value
    * occupying 0-based ranks `lo … hi−1` spans buckets
    * `(lo·8) DIV n … ((hi−1)·8) DIV n`; its row count inside bucket b
    * is the overlap of that rank interval with b's rank interval
    * `[⌈b·n/8⌉, ⌈(b+1)·n/8⌉−1]` — pure integer arithmetic, no raw-row
    * sort keyed by the ~5 event types. Bucket populations, lo/hi
    * boundary values all match the old rank window bit-for-bit
    * because bucket membership by rank is tie-order invariant.
    */
  val equiDepthBuckets = 8

  def q146_equidepth(spark: SparkSession, dir: String): DataFrame =
    equidepthOf(
      Tables.load(spark, dir, "events")
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents")),
      equiDepthBuckets)

  /** q146's core over any (event_type, cents) frame — split out so the
    * tiny-group edge (a group with fewer rows than `k`) is unit-testable
    * without a fixture table. */
  private[graft] def equidepthOf(e: DataFrame, k: Int): DataFrame = {
    import graft.operators.ValueAxis
    ValueAxis.axis(e, Seq("event_type"), "cents")
      .withColumn("bucket", explode(sequence(
        expr(s"CAST((lo * $k) DIV n AS INT)"),
        expr(s"CAST(((hi - 1) * $k) DIV n AS INT)"))))
      .withColumn("b_first", expr(s"(CAST(bucket AS BIGINT) * n + $k - 1) DIV $k"))
      .withColumn("b_last",
        expr(s"((CAST(bucket AS BIGINT) + 1) * n + $k - 1) DIV $k - 1"))
      .withColumn("n_in",
        least(col("hi") - 1, col("b_last")) - greatest(col("lo"), col("b_first")) + 1)
      // tiny groups (n < k) can explode a value's span over rank-empty
      // buckets; the window form emits no row for an empty bucket, so
      // drop zero-overlap slices before the rollup
      .filter(col("n_in") > 0)
      .groupBy("event_type", "bucket")
      .agg(sum(col("n_in")).cast("long").as("n_rows"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .orderBy("event_type", "bucket")
  }

  val q146_oracle: String =
    s"""WITH r AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY round(value * 100), event_id) AS rnk,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events)
       |SELECT event_type,
       |  CAST(((rnk - 1) * $equiDepthBuckets) // n AS INTEGER) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  min(cents) AS lo_cents, max(cents) AS hi_cents
       |FROM r GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  // ---------- q153: time-RANGE window frame ----------

  /** Trailing-30-minute per-user activity (RANGE frame) — the
    * time-based complement of q57's physical ROWS frame: the frame is
    * "everything in the last 1800 SECONDS", so its row count varies
    * with burstiness — exactly what a rate-limit / velocity-check
    * feature needs and a ROWS frame cannot express. Both engines
    * order by the same truncated epoch-seconds integer (Spark's
    * timestamp→long cast ≡ DuckDB floor(epoch()) for positive
    * instants), and a RANGE frame includes ALL peers of the boundary
    * value by definition — so tie order between engines is
    * irrelevant, no tiebreak column needed.
    *
    * Scale shape: ONE user-partitioned sort; the running frame
    * streams each partition once with eviction at the trailing edge —
    * state is the 30-minute window per user, never the timeline.
    */
  def q153_range_frame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("esec"))
      .rangeBetween(-1800, Window.currentRow)
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("esec"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_30m", count(lit(1)).over(w).cast("long"))
      .withColumn("cents_30m", sum(col("cents")).over(w).cast("long"))
      .select("event_id", "user_id", "n_30m", "cents_30m")
      .orderBy("event_id")
  }

  val q153_oracle: String =
    """SELECT event_id, user_id,
      |  CAST(count(*) OVER w AS BIGINT) AS n_30m,
      |  CAST(sum(cents) OVER w AS BIGINT) AS cents_30m
      |FROM (
      |  SELECT event_id, user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS esec,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY esec
      |  RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---------- q172: revenue Pareto curve ----------

  /** Customer-revenue Pareto (the 80/20 table, q140's Gini rendered
    * actionable): customers ranked by spend DESC into exact-rank
    * deciles (the q146 rule — populations exact to ±1), each decile's
    * revenue share and the cumulative share in exact ppm of total
    * cents. `cum_share_ppm` of decile 0–1 is the literal "top 20% of
    * customers carry X% of revenue" number.
    *
    * Scale shape: one custkey rollup (exact cents), the exact
    * descending rank via [[graft.operators.RangeRank]] (sample-
    * boundary buckets + offsets — no single-task sort of the customer
    * table), then a 10-row report with a window cumsum over it (the
    * only remaining global windows run over those 10 decile rows).
    */
  def q172_pareto(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val dec38 = "decimal(38,0)"
    val spend = Tables.load(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
        .as("cents"))
    RangeRank.rank(spend, Nil,
        Seq(RangeRank.Key("cents", desc = true), RangeRank.Key("o_custkey")),
        "rnk", "n")
      .withColumn("decile", expr("((rnk - 1) * 10) DIV n").cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).cast("long").as("n_custs"),
        sum(col("cents").cast(dec38)).as("dec_cents"))
      .withColumn("total", sum(col("dec_cents")).over(Window.partitionBy()))
      .withColumn("share_ppm",
        expr("CAST((dec_cents * 1000000) DIV total AS BIGINT)"))
      .withColumn("cum_share_ppm",
        expr("CAST(sum(dec_cents) OVER (ORDER BY decile " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 " +
          "DIV total AS BIGINT)"))
      .select(col("decile"), col("n_custs"),
        expr("CAST(dec_cents AS BIGINT)").as("dec_cents"),
        col("share_ppm"), col("cum_share_ppm"))
      .orderBy("decile")
  }

  val q172_oracle: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY cents DESC, o_custkey ASC) AS rnk,
      |    count(*) OVER () AS n
      |  FROM spend),
      |d AS (
      |  SELECT CAST(((rnk - 1) * 10) // n AS INTEGER) AS decile,
      |    CAST(count(*) AS BIGINT) AS n_custs,
      |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS dec_cents
      |  FROM r GROUP BY 1),
      |t AS (SELECT *, sum(dec_cents) OVER () AS total,
      |        sum(dec_cents) OVER (ORDER BY decile
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM d)
      |SELECT decile, n_custs, CAST(dec_cents AS BIGINT) AS dec_cents,
      |  CAST((dec_cents * 1000000) // total AS BIGINT) AS share_ppm,
      |  CAST((cum * 1000000) // total AS BIGINT) AS cum_share_ppm
      |FROM t ORDER BY decile""".stripMargin

  // ---------- q183: IQR (Tukey-fence) outliers ----------

  /** Robust outlier detection by Tukey fences — the rank-based
    * complement of q105's moment-based z-score (a fat tail inflates
    * σ and hides its own outliers; quartiles don't move): exact q1/q3
    * by rank arithmetic, fences at 1.5·IQR cleared of fractions —
    * `x < q1 − 3(q3−q1)/2 ⟺ 2x < 5·q1 − 3·q3` — so every verdict is
    * an integer comparison and the flagged SET is pinned by id-sum
    * (the q105 rule). Per-type report.
    *
    * Scale shape: quartiles from the DISTINCT-cents axis
    * ([[graft.operators.ValueAxis]] — hash aggregation + a window
    * bounded by the cents domain; q145's shape), a broadcast bounds
    * table back over the scan — no raw-row sort keyed by the ~5
    * event types.
    */
  def q183_iqr_outliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ValueAxis
    val e = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    // ONE events pass: the axis is cut and serves both the quartile
    // lookup and the fence rollup (the old form re-scanned the raw
    // rows it already summarizes — guide §2.4). The axis's weight
    // channel carries Σ event_id per (type, cents) so the outlier id
    // checksum needs no raw rows either: fence membership depends
    // only on cents, so summing wcnt over outlier values ≡ summing
    // event_id over outlier rows.
    val ax = graft.Lineage.cut(ValueAxis.axis(
      e, Seq("event_type"), "cents", weightCol = Some("event_id")))
    val quart = ax
      .groupBy("event_type")
      .agg(ValueAxis.valueAtRank("cents", expr("(n + 3) DIV 4")).as("q1"),
        ValueAxis.valueAtRank("cents", expr("(3 * n + 3) DIV 4")).as("q3"))
    val low = col("cents") * 2 < col("q1") * 5 - col("q3") * 3
    val high = col("cents") * 2 > col("q3") * 5 - col("q1") * 3
    ax.join(broadcast(quart), "event_type")
      .groupBy("event_type")
      .agg(sum(col("cnt")).cast("long").as("n"),
        max(col("q1")).as("q1_cents"), max(col("q3")).as("q3_cents"),
        sum(when(low, col("cnt")).otherwise(0L)).cast("long").as("n_low"),
        sum(when(high, col("cnt")).otherwise(0L)).cast("long").as("n_high"),
        coalesce(sum(when(low || high, col("wcnt"))), lit(0L)).cast("long")
          .as("outlier_id_sum"))
      .orderBy("event_type")
  }

  val q183_oracle: String =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id)
      |      AS rnk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |q AS (
      |  SELECT event_type,
      |    min(CASE WHEN rnk = (n + 3) // 4 THEN cents END) AS q1,
      |    min(CASE WHEN rnk = (3 * n + 3) // 4 THEN cents END) AS q3
      |  FROM r WHERE rnk = (n + 3) // 4 OR rnk = (3 * n + 3) // 4
      |  GROUP BY event_type)
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
      |  max(q1) AS q1_cents, max(q3) AS q3_cents,
      |  CAST(count(*) FILTER (WHERE cents * 2 < q1 * 5 - q3 * 3) AS BIGINT)
      |    AS n_low,
      |  CAST(count(*) FILTER (WHERE cents * 2 > q3 * 5 - q1 * 3) AS BIGINT)
      |    AS n_high,
      |  CAST(coalesce(sum(CASE WHEN cents * 2 < q1 * 5 - q3 * 3
      |      OR cents * 2 > q3 * 5 - q1 * 3 THEN event_id END), 0) AS BIGINT)
      |    AS outlier_id_sum
      |FROM e JOIN q USING (event_type)
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  // ---------- q184: calendar coverage gaps ----------

  /** Data-completeness audit: for each event type, which calendar
    * days inside the corpus's own [min, max] date range saw ZERO
    * events — the "did ingestion silently skip a day" report, which
    * no aggregation over PRESENT rows can produce: the day axis is
    * GENERATED (sequence over the date range) and anti-joined
    * against observed days. Per type: range, expected/observed/
    * missing day counts, and the missing-day epoch sum pinning the
    * exact gap SET.
    *
    * Scale shape: observed (type, day) pairs are one partial-agg
    * distinct; the generated calendar is |types|·|days| rows (tiny);
    * the anti-join runs calendar-vs-observed, never against raw
    * events.
    */
  def q184_coverage_gaps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts").cast("date").as("day"))
    val observed = ev.distinct().localCheckpoint()
    // n_events pins the report to the DATA: two event logs covering
    // the same gap-free calendar are otherwise indistinguishable here
    val rawCounts = ev.groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n_events"))
    val ranges = observed.groupBy("event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val calendar = ranges
      .select(col("event_type"), col("d0"), col("d1"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    calendar
      .join(observed, Seq("event_type", "day"), "left_anti")
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n_missing"),
        coalesce(sum(unix_date(col("day"))), lit(0L)).cast("long")
          .as("missing_epoch_sum"))
      .join(ranges.join(observed.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n_observed")), "event_type")
          .join(rawCounts, "event_type"),
        Seq("event_type"), "right_outer")
      .select(col("event_type"),
        date_format(col("d0"), "yyyy-MM-dd").as("first_day"),
        date_format(col("d1"), "yyyy-MM-dd").as("last_day"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("n_expected"),
        col("n_observed"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        coalesce(col("missing_epoch_sum"), lit(0L)).as("missing_epoch_sum"),
        col("n_events"))
      .orderBy("event_type")
  }

  val q184_oracle: String =
    """WITH obs AS (
      |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events),
      |rng AS (
      |  SELECT event_type, min(day) AS d0, max(day) AS d1,
      |    CAST(count(*) AS BIGINT) AS n_observed
      |  FROM obs GROUP BY event_type),
      |cal AS (
      |  SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
      |    AS day
      |  FROM rng),
      |miss AS (
      |  SELECT cal.event_type, CAST(count(*) AS BIGINT) AS n_missing,
      |    CAST(coalesce(sum(date_diff('day', DATE '1970-01-01', cal.day)), 0)
      |      AS BIGINT) AS missing_epoch_sum
      |  FROM cal LEFT JOIN obs ON cal.event_type = obs.event_type
      |    AND cal.day = obs.day
      |  WHERE obs.day IS NULL
      |  GROUP BY cal.event_type),
      |raw AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY event_type)
      |SELECT rng.event_type,
      |  strftime(d0, '%Y-%m-%d') AS first_day,
      |  strftime(d1, '%Y-%m-%d') AS last_day,
      |  CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS n_expected,
      |  n_observed,
      |  coalesce(miss.n_missing, 0) AS n_missing,
      |  coalesce(miss.missing_epoch_sum, 0) AS missing_epoch_sum,
      |  n_events
      |FROM rng LEFT JOIN miss USING (event_type) JOIN raw USING (event_type)
      |ORDER BY event_type""".stripMargin

  // ---------- q187: interpolated (type-7) quantiles, exactly ----------

  /** LINEAR-INTERPOLATION quantiles (Hyndman–Fan type 7 — numpy /
    * pandas' default) computed EXACTLY: at quartile q/4 the index is
    * h = (n−1)·q/4, and with H = (n−1)·q the interpolation weight is
    * the RATIONAL H mod 4 over 4 — so the interpolated value
    * `(4−r)·x_⌊h⌋ + r·x_⌊h⌋₊₁` is an exact integer in quarter-cents,
    * emitted in micro-cents by one exact multiply. The
    * cross-engine-portable form of the quantile every Python
    * notebook reports (each engine's built-in interpolating quantile
    * disagrees in the last float digit; this one hash-matches), and
    * the interpolating complement of q32's nearest-rank form.
    *
    * Scale shape: both bracketing order statistics per quartile come
    * from the DISTINCT-cents axis ([[graft.operators.ValueAxis]] —
    * the value at a rank is tie-order invariant), so the plan is a
    * hash aggregation plus a domain-bounded window; no raw-row sort
    * keyed by the ~5 event types. The interpolation combine is
    * unchanged exact integer arithmetic.
    */
  def q187_interp_quantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ValueAxis
    val ax = ValueAxis.axis(
      Tables.load(spark, dir, "events")
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents")),
      Seq("event_type"), "cents")
    val qs = Seq(1, 2, 3)
    val brackets = qs.flatMap { q =>
      val k = s"(((n - 1) * $q) DIV 4)"
      Seq(
        ValueAxis.valueAtRank("cents", expr(s"$k + 1")).as(s"v1_$q"),
        ValueAxis.valueAtRank("cents", expr(s"$k + 2")).as(s"v2_$q"))
    } :+ max(col("n")).as("n_events")
    val combine = qs.map { q =>
      val r = s"(((n_events - 1) * $q) % 4)"
      expr(s"CAST(((4 - $r) * v1_$q + $r * coalesce(v2_$q, 0)) * 250000 AS BIGINT)")
        .as(s"p${q * 25}_micro")
    }
    ax.groupBy("event_type")
      .agg(brackets.head, brackets.tail: _*)
      .select(col("event_type") +: col("n_events") +: combine: _*)
      .orderBy("event_type")
  }

  val q187_oracle: String = {
    val cols = Seq(1, 2, 3).map { q =>
      val k = s"(((n - 1) * $q) // 4)"
      val r = s"(((n - 1) * $q) % 4)"
      s"""CAST(((4 - $r) * max(CASE WHEN rnk = $k + 1 THEN cents END)
         |  + $r * coalesce(max(CASE WHEN rnk = $k + 2 THEN cents END), 0)) * 250000
         |  AS BIGINT) AS p${q * 25}_micro""".stripMargin
    }
    s"""SELECT event_type, CAST(n AS BIGINT) AS n_events,
       |  ${cols.mkString(",\n  ")}
       |FROM (
       |  SELECT event_type, cents,
       |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id)
       |      AS rnk,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM (SELECT event_type, event_id,
       |          CAST(round(value * 100) AS BIGINT) AS cents FROM events))
       |GROUP BY event_type, n ORDER BY event_type""".stripMargin
  }

  // ---------- q194: exact weighted median ----------

  /** WEIGHTED median — the robust "typical price per unit SOLD, not
    * per line item" statistic (a plain median over lines lets one
    * 1-unit line count as much as a 50-unit line): per return flag,
    * the smallest price whose cumulative quantity weight reaches half
    * the total, `2·cumW ≥ W` in pure integers over a (cents,
    * orderkey, linenumber) total order. Cumulative weights are
    * monotone, so the crossing row's VALUE is deterministic under any
    * tie order within equal prices. The unweighted median rides along
    * for contrast.
    *
    * Scale shape: one rank/cumsum window per group (the q32 sort),
    * suffix-min via conditional aggregation — no second pass.
    */
  def q194_weighted_median(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ValueAxis
    // DISTINCT-cents axis with weight geometry: the weighted median is
    // the first value whose cumulative weight crosses half the total —
    // the crossing row always sits INSIDE the first value v with
    // 2·whi(v) ≥ wtot, so the per-row cumulative window collapses to
    // the domain-bounded axis form with identical output (no raw-row
    // cumsum keyed by the 3 return flags).
    val ax = ValueAxis.axis(
      Tables.load(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          round(col("l_quantity")).cast("long").as("qty")),
      Seq("l_returnflag"), "cents", weightCol = Some("qty"))
    ax.groupBy("l_returnflag")
      .agg(max(col("n")).as("n_lines"),
        max(col("wtot")).as("total_qty"),
        min(when(col("whi") * 2 >= col("wtot"), col("cents")))
          .as("wmedian_cents"),
        ValueAxis.valueAtRank("cents", expr("(n + 1) DIV 2"))
          .as("median_cents"))
      .orderBy("l_returnflag")
  }

  val q194_oracle: String =
    """SELECT l_returnflag,
      |  CAST(max(n) AS BIGINT) AS n_lines,
      |  CAST(max(wtot) AS BIGINT) AS total_qty,
      |  min(CASE WHEN cumw * 2 >= wtot THEN cents END) AS wmedian_cents,
      |  min(CASE WHEN rnk = (n + 1) // 2 THEN cents END) AS median_cents
      |FROM (
      |  SELECT l_returnflag, cents,
      |    sum(qty) OVER (PARTITION BY l_returnflag
      |      ORDER BY cents, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(qty) OVER (PARTITION BY l_returnflag) AS wtot,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY cents, l_orderkey, l_linenumber) AS rnk,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM (
      |    SELECT l_returnflag, l_orderkey, l_linenumber,
      |      CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |      CAST(round(l_quantity) AS BIGINT) AS qty
      |    FROM lineitem))
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------- q219: per-source token-length drift (total variation) ----------

  /** Token-length histogram cap: lengths ≥ this share one tail bucket. */
  val lenDriftCap = 12

  /** Per-source token-length drift as EXACT total-variation distance
    * from the corpus-wide length distribution — the cross-sectional
    * complement of q141 (KS on values between eras) and q142
    * (chi-style histogram drift): a source whose token-length profile
    * diverges from the corpus signals tokenizer problems, boilerplate,
    * or format corruption before any model sees it.
    * TV = ½·Σ_b |p_b − q_b| over a common denominator:
    * tv_ppm = (Σ_b |o_b·N − n_s·c_b|) · 10⁶ DIV (2·n_s·N) — one
    * integer division, no floats (unlike χ², TV needs no per-cell
    * division, so it stays a single exact rational at any corpus
    * size; products ride decimal(38,0)).
    *
    * Scale shape: one exploded-corpus pass to the (source, bucket)
    * grid (≤ |sources|·12 rows, map-side combined); marginals and the
    * corpus total derive from the GRID, never a second pass; the
    * dense grid (so zero-count buckets still contribute |n_s·c_b|)
    * comes from a sources × buckets cross of two bounded aggregates.
    */
  def q219_length_drift(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val o = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .select(col("source"),
        least(length(col("t")), lit(lenDriftCap)).as("blen"))
      .groupBy("source", "blen")
      .agg(count(lit(1)).cast("long").as("o"))
      .transform(graft.Lineage.cut) // grid-sized; three readers below
    val ns = o.groupBy("source").agg(sum(col("o")).cast("long").as("n_s"))
    val cb = o.groupBy("blen").agg(sum(col("o")).cast("long").as("c_b"))
    val nt = o.agg(sum(col("o")).cast("long").as("n_tot"))
    ns.crossJoin(cb)
      .join(o, Seq("source", "blen"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(nt))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_toks"),
        max(col("n_tot")).as("n_tot"),
        sum(abs(col("o").cast(dec38) * col("n_tot")
          - col("n_s").cast(dec38) * col("c_b"))).as("dev"))
      .withColumn("tv_ppm", expr(
        s"CAST(dev * 1000000 DIV (CAST(2 AS $dec38) * n_toks * n_tot) AS BIGINT)"))
      .select("source", "n_toks", "tv_ppm")
      .orderBy("source")
  }

  /** DuckDB twin — HUGEINT products (q215's rule: DuckDB DECIMAL `//`
    * rounds; HUGEINT `//` floors like Spark's DECIMAL DIV). */
  val q219_oracle: String = {
    val toks = graft.functions.TextFunctions.tokensSql("text")
    s"""WITH o AS (
       |  SELECT source, least(length(t), $lenDriftCap) AS blen,
       |    CAST(count(*) AS BIGINT) AS o
       |  FROM (SELECT source, unnest($toks) AS t FROM documents)
       |  GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s FROM o GROUP BY 1),
       |cb AS (SELECT blen, CAST(sum(o) AS BIGINT) AS c_b FROM o GROUP BY 1),
       |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot FROM o),
       |grid AS (
       |  SELECT ns.source, ns.n_s, cb.blen, cb.c_b, coalesce(o.o, 0) AS o
       |  FROM ns CROSS JOIN cb
       |  LEFT JOIN o ON o.source = ns.source AND o.blen = cb.blen)
       |SELECT source, max(n_s) AS n_toks,
       |  CAST(sum(abs(CAST(o AS HUGEINT) * n_tot
       |      - CAST(n_s AS HUGEINT) * c_b)) * 1000000
       |    // (CAST(2 AS HUGEINT) * max(n_s) * max(n_tot)) AS BIGINT)
       |    AS tv_ppm
       |FROM grid CROSS JOIN nt
       |GROUP BY source ORDER BY source""".stripMargin
  }


  // ---------- q269: MAD (robust) outlier screen ----------

  /** Outlier fence in 1e4 units of MAD: 3 x 1.4826 = 4.4478. */
  val madFenceE4 = 44478L

  /** The ROBUST member of the outlier family — q105 flags by z-score
    * (moments a heavy tail drags), q183 by Tukey IQR fences; this is
    * the median/MAD screen (|x - median| > 3 sigma-hat with
    * sigma-hat = 1.4826 MAD) that a heavy-tailed value column needs.
    * Everything stays integer-exact: values in cents, both medians
    * from [[graft.operators.ValueAxis]] lower-median rank geometry,
    * and the fence comparison cross-multiplied through e4 units
    * (`|x-m|*10^4 > MAD*44478`) -- no float anywhere, bit-identical
    * verdicts cross-engine.
    *
    * Scale shape: both medians ride the DISTINCT-cents axis per
    * event_type (value domain-bounded, never row-scaled); the flag
    * pass is one more scan with the 5-row median/MAD table joined
    * back (AQE broadcasts it); output is |event types| rows.
    */
  def q269_mad_outliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ValueAxis
    val base = Tables.load(spark, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    // ONE events pass: the cents axis is cut and every later stage is
    // axis-sized — the deviation DISTRIBUTION is a pure function of
    // the (cents → cnt) axis (adev = |cents − median| with weight
    // cnt), so the MAD is the WEIGHTED median of the derived axis
    // (valueAtWeightedRank ≡ the raw-row rank over the expanded
    // multiset), and the fence rollup sums cnt instead of re-counting
    // raw rows. The old form scanned events three times.
    val ax = graft.Lineage.cut(
      ValueAxis.axis(base, Seq("event_type"), "cents"))
    val med = ax
      .groupBy("event_type")
      .agg(ValueAxis.valueAtRank("cents", expr("(n + 1) DIV 2")).as("median_cents"))
    val dev = ax.join(med, "event_type")
      .select(col("event_type"),
        abs(col("cents") - col("median_cents")).as("adev"), col("cnt"))
    val mad = ValueAxis.axis(dev, Seq("event_type"), "adev",
        weightCol = Some("cnt"))
      .groupBy("event_type")
      .agg(ValueAxis.valueAtWeightedRank("adev", expr("(wtot + 1) DIV 2"))
        .as("mad_cents"))
    ax.join(med, "event_type").join(mad, "event_type")
      .groupBy("event_type", "median_cents", "mad_cents")
      .agg(sum(col("cnt")).cast("long").as("n_events"),
        sum(when(abs(col("cents") - col("median_cents")) * 10000 >
          col("mad_cents") * madFenceE4, col("cnt")).otherwise(0L))
          .cast("long").as("n_outliers"))
      .select(col("event_type"), col("n_events"), col("median_cents"),
        col("mad_cents"), col("n_outliers"),
        expr("(n_outliers * 1000000) DIV n_events").as("outlier_ppm"))
      .orderBy("event_type")
  }

  val q269_oracle: String =
    s"""WITH b AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |m AS (
       |  SELECT event_type, cents AS median_cents FROM (
       |    SELECT event_type, cents,
       |      row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
       |      count(*) OVER (PARTITION BY event_type) AS n
       |    FROM b)
       |  WHERE rn = (n + 1) // 2),
       |d AS (
       |  SELECT b.event_type, abs(b.cents - m.median_cents) AS adev
       |  FROM b JOIN m USING (event_type)),
       |md AS (
       |  SELECT event_type, adev AS mad_cents FROM (
       |    SELECT event_type, adev,
       |      row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
       |      count(*) OVER (PARTITION BY event_type) AS n
       |    FROM d)
       |  WHERE rn = (n + 1) // 2)
       |SELECT b.event_type,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  m.median_cents, md.mad_cents,
       |  CAST(count(*) FILTER (WHERE abs(b.cents - m.median_cents) * 10000
       |    > md.mad_cents * $madFenceE4) AS BIGINT) AS n_outliers,
       |  CAST((count(*) FILTER (WHERE abs(b.cents - m.median_cents) * 10000
       |    > md.mad_cents * $madFenceE4) * 1000000) // count(*) AS BIGINT)
       |    AS outlier_ppm
       |FROM b JOIN m USING (event_type) JOIN md USING (event_type)
       |GROUP BY b.event_type, m.median_cents, md.mad_cents
       |ORDER BY b.event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q269_mad_outliers" -> (q269_mad_outliers _),
    "q219_length_drift" -> (q219_length_drift _),
    "q194_weighted_median" -> (q194_weighted_median _),
    "q187_interp_quantiles" -> (q187_interp_quantiles _),
    "q183_iqr_outliers" -> (q183_iqr_outliers _),
    "q184_coverage_gaps" -> (q184_coverage_gaps _),
    "q172_pareto" -> (q172_pareto _),
    "q153_range_frame" -> (q153_range_frame _),
    "q141_ks_drift" -> (q141_ks_drift _),
    "q142_hist_drift" -> (q142_hist_drift _),
    "q145_winsorize" -> (q145_winsorize _),
    "q146_equidepth" -> (q146_equidepth _),
    "q140_gini" -> (q140_gini _),
    "q56_histogram" -> (q56_histogram _),
    "q57_rolling" -> (q57_rolling _),
    "q58_ntile" -> (q58_ntile _),
    "q59_correlated" -> (q59_correlated _),
    "q105_anomaly" -> (q105_anomaly _),
    "q130_locf" -> (q130_locf _))

  val oracles: Map[String, String] = Map(
    "q269_mad_outliers" -> q269_oracle,
    "q219_length_drift" -> q219_oracle,
    "q172_pareto" -> q172_oracle,
    "q183_iqr_outliers" -> q183_oracle,
    "q187_interp_quantiles" -> q187_oracle,
    "q194_weighted_median" -> q194_oracle,
    "q184_coverage_gaps" -> q184_oracle,
    "q153_range_frame" -> q153_oracle,
    "q141_ks_drift" -> q141_oracle,
    "q142_hist_drift" -> q142_oracle,
    "q145_winsorize" -> q145_oracle,
    "q146_equidepth" -> q146_oracle,
    "q140_gini" -> q140_oracle,
    "q56_histogram" -> q56_oracle,
    "q57_rolling" -> q57_oracle,
    "q58_ntile" -> q58_oracle,
    "q59_correlated" -> q59_oracle,
    "q105_anomaly" -> q105_oracle,
    "q130_locf" -> q130_oracle)
}
