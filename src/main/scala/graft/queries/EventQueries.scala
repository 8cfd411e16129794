package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics (SURVEY §2 #65–#66): funnel conversion and
  * cohort retention — the two canonical product-analytics queries over
  * an event stream.
  */
object EventQueries extends graft.QueryFamily {

  // ---------- q65: funnel conversion ----------

  /** Ordered funnel view → click → purchase: a user advances a stage
    * only with an event at-or-after their previous stage's first
    * event. Each stage's user set shrinks monotonically, so the
    * previous stage broadcasts into the next stage's event filter and
    * the raw events are never shuffled for a join — only each stage's
    * own per-user aggregation shuffles, bounded by its user count. If
    * a stage set ever outgrew broadcast, the joins would SMJ on
    * user_id and reuse the aggregations' partitioning. min()
    * timestamps make every stage deterministic regardless of event
    * order.
    *
    * Each stage table feeds BOTH the next stage's join and its own
    * count branch of the final union; without materialization the
    * union re-executes every upstream stage per branch (measured 11
    * exchanges). The [[graft.Lineage]] cuts make each stage compute
    * exactly once — the materialized tables are narrow user-linear
    * (user_id, ts) rows held in distributed executor storage, never
    * on the driver.
    */
  def q65_funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = graft.Lineage.cut(ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view")))
    val c = graft.Lineage.cut(ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click")))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage(v, "1_view").union(stage(c, "2_click")).union(stage(p, "3_purchase"))
      .orderBy("stage")
  }

  val q65_oracle: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      |  GROUP BY e.user_id)
      |SELECT stage, n_users FROM (
      |  SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |  UNION ALL SELECT '2_click', count(*) FROM c
      |  UNION ALL SELECT '3_purchase', count(*) FROM p)
      |ORDER BY stage""".stripMargin

  // ---------- q66: cohort retention ----------

  /** Weekly cohort retention: users grouped by the week of their first
    * event; for each later week, how many of that cohort were active.
    * Both engines truncate weeks to Monday and the week delta is exact
    * integer arithmetic on day counts (always a multiple of 7 after
    * truncation). Shuffles: one by user (first-seen), one by
    * (cohort, week) for the matrix — both bounded by user/week
    * cardinality, not events.
    */
  def q66_retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val cohorts = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    ev.join(cohorts, "user_id")
      .withColumn("weeks_since",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "weeks_since")
      .agg(count(lit(1)).as("n_active"))
      .select(
        date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("weeks_since"), col("n_active"))
      .orderBy("cohort_week", "weeks_since")
  }

  val q66_oracle: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |cohorts AS (
      |  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
      |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
      |  CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS weeks_since,
      |  count(*) AS n_active
      |FROM uw JOIN cohorts USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, weeks_since""".stripMargin

  // ---------- q128: event-transition matrix (first-order Markov) ----------

  /** Per-user event-type transition matrix — the first-order Markov
    * summary of behavioral sequences (the statistic session-based
    * recommendation and anomalous-flow detection start from): for
    * every consecutive event pair within a user's timeline, count
    * (from_type → to_type) and express the row-conditional
    * probability in exact ppm — `n · 10⁶ DIV Σ_to n` — so the matrix
    * hash-matches across engines (the q104 integer-probability rule).
    *
    * Determinism: a user's timeline is ordered by (ts, event_id) —
    * event_id breaks timestamp ties, so `lead` is total-ordered and
    * both engines see identical successor pairs.
    *
    * Scale shape: ONE shuffle of (user_id, ts, type) partitioned by
    * user for the window (each user's timeline sorts within its
    * partition — no global sort), then a partial-agg rollup to the
    * |event types|² matrix; the ppm join is matrix-sized. AQE splits
    * any power-user partition skew.
    */
  def q128_transitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000) DIV n_from").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  val q128_oracle: String =
    """WITH pairs AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT event_type AS from_type,
      |      lead(event_type) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |    FROM events)
      |  WHERE to_type IS NOT NULL
      |  GROUP BY from_type, to_type),
      |totals AS (
      |  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |  FROM pairs GROUP BY from_type)
      |SELECT from_type, to_type, n, (n * 1000000) // n_from AS p_ppm
      |FROM pairs JOIN totals USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  // ---------- q135: time-decayed engagement score ----------

  /** Decay-weight cap: ages beyond [[decayMaxWeeks]] half-lives all
    * round to weight 0 micro-units anyway (10⁶ >> 30 bits), so the
    * shift exponent is clamped there — the guard that keeps the
    * operator total on arbitrarily old replays.
    */
  val decayMaxWeeks = 30

  /** Recency-weighted user value — the feature-store staple behind
    * "recent activity matters more" ranking signals: each purchase
    * contributes its cents weighted by a DISCRETE weekly half-life,
    * `w = 10⁶ DIV 2^min(age_weeks, 30)` against the fixed anchor
    * 2024-01-31 (a week of age halves the weight; integer shifts, so
    * every score is exact and order-independent — no float decay
    * curve to disagree across engines). The anchor is a pinned date,
    * not max(ts): scoring yesterday's snapshot must not re-weight
    * history, which is also what makes the score incrementally
    * maintainable (q107's rule: new batches ADD, old state never
    * recomputes until the anchor advances).
    *
    * Scale shape: one narrow scan (filter + per-row weight arithmetic
    * fused into the parquet read) and one partial-agg shuffle keyed
    * by user — the canonical map-side-combine rollup; output is
    * user-sized.
    */
  /** q135's aggregation core over ANY (event_type, ts, user_id,
    * value) frame — factored so q161's streaming foreachBatch can run
    * the identical arithmetic per micro-batch: because the anchor is
    * pinned, every output column is ADDITIVE across batches, which is
    * the incrementality claim q161 then proves against q135's own
    * oracle.
    */
  private[queries] def decayAggregate(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("age_weeks",
        least(greatest(
          (datediff(lit("2024-01-31").cast("date"), col("ts").cast("date")) / 7)
            .cast("int"), lit(0)), lit(decayMaxWeeks)))
      .withColumn("w_micro", expr("1000000 DIV shiftleft(CAST(1 AS BIGINT), age_weeks)"))
      .groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_purchases"),
        sum(col("cents")).cast("long").as("cents_sum"),
        sum(col("cents") * col("w_micro")).cast("long").as("decay_micro"))

  def q135_decay_score(spark: SparkSession, dir: String): DataFrame =
    decayAggregate(Tables.load(spark, dir, "events"))
      .orderBy("user_id")

  val q135_oracle: String =
    s"""SELECT user_id,
       |  CAST(count(*) AS BIGINT) AS n_purchases,
       |  CAST(sum(cents) AS BIGINT) AS cents_sum,
       |  CAST(sum(cents * w_micro) AS BIGINT) AS decay_micro
       |FROM (
       |  SELECT user_id,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    1000000 // (CAST(1 AS BIGINT) << least(greatest(
       |      date_diff('day', CAST(ts AS DATE), DATE '2024-01-31') // 7, 0),
       |      $decayMaxWeeks)) AS w_micro
       |  FROM events WHERE event_type = 'purchase')
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------- q150: linear multi-touch attribution ----------

  /** Attribution lookback window. */
  val attributionDays = 7

  /** Linear multi-touch attribution — the marketing-analytics core
    * operator (and the credit-assignment shape behind any
    * "which upstream got us this outcome" report): each purchase's
    * cents split EQUALLY across all of the user's view/click
    * touchpoints in the preceding [[attributionDays]] days, credit in
    * exact micro-cents (`cents·10⁶ DIV k` per touch — integer, so the
    * books cross-check bit-for-bit; per-purchase truncation loss
    * < k micro-units, the auditable remainder). Purchases with no
    * preceding touch attribute to nobody (organic). Complements q65
    * (which counts ordered stage REACH, not credit) and q130 (which
    * carries the last value forward, not splits it back).
    *
    * Scale shape: the touch⋈purchase interval join shuffles by USER
    * (per-user activity bounds the pair fanout; AQE splits power
    * users), the per-purchase touch count is one purchase-keyed agg
    * joined back, the report is one (user, touch_type) partial-agg
    * rollup with decimal(38,0) credit sums.
    */
  def q150_attribution(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("pts"),
        round(col("value") * 100).cast("long").as("cents"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("touch_type"), col("ts").as("tts"))
    val attributed = touches.join(purchases, Seq("user_id"))
      .filter(col("tts") < col("pts") &&
        col("pts") <= col("tts") + expr(s"INTERVAL $attributionDays DAYS"))
    val perPurchase = attributed.groupBy("p_id")
      .agg(count(lit(1)).cast("long").as("k"))
    attributed.join(perPurchase, "p_id")
      .withColumn("credit_micro", expr("(cents * 1000000) DIV k"))
      .groupBy("user_id", "touch_type")
      .agg(count(lit(1)).cast("long").as("n_attributions"),
        sum(col("credit_micro").cast(dec38)).cast("long").as("credit_micro_sum"))
      .orderBy("user_id", "touch_type")
  }

  val q150_oracle: String =
    s"""WITH p AS (
       |  SELECT user_id, event_id AS p_id, ts AS pts,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |t AS (
       |  SELECT user_id, event_id AS t_id, event_type AS touch_type, ts AS tts
       |  FROM events WHERE event_type IN ('view', 'click')),
       |j AS (
       |  SELECT t.user_id, t.touch_type, p.p_id, p.cents
       |  FROM t JOIN p ON t.user_id = p.user_id
       |   AND t.tts < p.pts AND p.pts <= t.tts + INTERVAL $attributionDays DAY),
       |k AS (SELECT p_id, CAST(count(*) AS BIGINT) AS k FROM j GROUP BY p_id)
       |SELECT user_id, touch_type,
       |  CAST(count(*) AS BIGINT) AS n_attributions,
       |  CAST(sum((cents * 1000000) // k) AS BIGINT) AS credit_micro_sum
       |FROM j JOIN k USING (p_id)
       |GROUP BY user_id, touch_type
       |ORDER BY user_id, touch_type""".stripMargin

  // ---------- q157: week-over-week change report ----------

  /** Period-over-period volume/value deltas per event type — the
    * top-of-dashboard ops report (and the simplest drift alarm):
    * weekly rollup, then each week compared to its predecessor with
    * the delta in exact ppm (`(n − prev)·10⁶ DIV prev`, negative
    * deltas truncate toward zero identically in both engines — probed
    * explicitly). First week has no predecessor → NULL deltas, not a
    * fake zero. Complements q66 (cohort retention follows USERS
    * across weeks; this follows aggregate volume) and q141/q142
    * (distribution drift; this is level drift).
    *
    * Scale shape: one partial-agg shuffle to |types|·|weeks| rows;
    * the lag window runs over that tiny table.
    */
  def q157_wow_change(spark: SparkSession, dir: String): DataFrame = {
    val wk = Window.partitionBy("event_type").orderBy("week")
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("cents"))
      .withColumn("prev_n", lag(col("n"), 1).over(wk))
      .withColumn("prev_cents", lag(col("cents"), 1).over(wk))
      .withColumn("n_delta_ppm",
        when(col("prev_n") > 0,
          expr("((n - prev_n) * 1000000) DIV prev_n")))
      .withColumn("cents_delta_ppm",
        when(col("prev_cents") > 0,
          expr("((cents - prev_cents) * 1000000) DIV prev_cents")))
      .select("event_type", "week", "n", "cents", "n_delta_ppm", "cents_delta_ppm")
      .orderBy("event_type", "week")
  }

  val q157_oracle: String =
    """WITH w AS (
      |  SELECT event_type, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT *,
      |    lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
      |    lag(cents) OVER (PARTITION BY event_type ORDER BY week) AS prev_cents
      |  FROM w)
      |SELECT event_type, week, n, cents,
      |  CASE WHEN prev_n > 0 THEN ((n - prev_n) * 1000000) // prev_n END
      |    AS n_delta_ppm,
      |  CASE WHEN prev_cents > 0 THEN ((cents - prev_cents) * 1000000) // prev_cents END
      |    AS cents_delta_ppm
      |FROM l ORDER BY event_type, week""".stripMargin

  // ---------- q176: weekly-hourly seasonality profile ----------

  /** Activity seasonality heatmap — the (day-of-week × hour) profile
    * behind capacity planning and anomaly BASELINES (q105 flags
    * outliers against a global mean; real monitors compare against
    * the seasonal cell): per cell, event count, purchase cents, and
    * a peak flag marking each weekday's busiest hour ((count desc,
    * hour) argmax — total-ordered, so the flag is deterministic).
    * dayofweek is ISO (1 = Monday) in both engines' chosen functions.
    *
    * Scale shape: one partial-agg shuffle to ≤168 cells; the peak
    * window runs over that table.
    */
  def q176_seasonality(spark: SparkSession, dir: String): DataFrame = {
    val wPeak = Window.partitionBy("dow")
      .orderBy(col("n_events").desc, col("hour").asc)
    Tables.load(spark, dir, "events")
      .groupBy(
        // ISO weekday: Spark's dayofweek is 1=Sunday; shift to 1=Monday
        expr("((dayofweek(ts) + 5) % 7) + 1").cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hour"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))), lit(0L))
          .cast("long").as("purchase_cents"))
      .withColumn("is_peak", row_number().over(wPeak) === 1)
      .orderBy("dow", "hour")
  }

  val q176_oracle: String =
    """WITH c AS (
      |  SELECT CAST(isodow(ts) AS INTEGER) AS dow,
      |    CAST(hour(ts) AS INTEGER) AS hour,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
      |      AS purchase_cents
      |  FROM events GROUP BY 1, 2)
      |SELECT dow, hour, n_events, purchase_cents,
      |  row_number() OVER (PARTITION BY dow
      |    ORDER BY n_events DESC, hour ASC) = 1 AS is_peak
      |FROM c ORDER BY dow, hour""".stripMargin

  // ---------- q177: behavioral trigram mining ----------

  /** Event-type TRIGRAM mining — q128's Markov matrix widened to
    * second order (the sequence statistic that separates
    * "view→click→purchase" journeys from coincidence): per-user
    * timelines in (ts, event_id) total order, consecutive triples
    * rolled up with the conditional next-step probability
    * `P(c | a,b)` in exact ppm. The |types|³ table is the input to
    * any higher-order behavioral model.
    *
    * Scale shape: ONE user-partitioned window shuffle (two leads
    * share it), partial-agg rollup to ≤|types|³ rows, ppm join
    * against the |types|²-row margin.
    */
  def q177_event_trigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val triples = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("a"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .withColumn("c", lead(col("a"), 2).over(w))
      .filter(col("c").isNotNull)
      .groupBy("a", "b", "c")
      .agg(count(lit(1)).cast("long").as("n"))
    val margins = triples.groupBy("a", "b").agg(sum(col("n")).cast("long").as("n_ab"))
    triples.join(margins, Seq("a", "b"))
      .select(col("a"), col("b"), col("c"), col("n"),
        expr("(n * 1000000) DIV n_ab").as("p_ppm"))
      .orderBy("a", "b", "c")
  }

  val q177_oracle: String =
    """WITH t AS (
      |  SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT event_type AS a,
      |      lead(event_type, 1) OVER w AS b,
      |      lead(event_type, 2) OVER w AS c
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |  WHERE c IS NOT NULL
      |  GROUP BY 1, 2, 3),
      |m AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS n_ab FROM t GROUP BY a, b)
      |SELECT a, b, c, n, (n * 1000000) // n_ab AS p_ppm
      |FROM t JOIN m USING (a, b)
      |ORDER BY a, b, c""".stripMargin

  // ---------- q168: churn-label generation ----------

  /** Week-over-week churn LABELS — the training-target builder for a
    * churn model (and retention's inverse view, q66's complement):
    * a user active in week w churns if they are absent in w+1 (a
    * later return is a resurrection, labeled at its own week); the
    * corpus's final week is unlabelable and excluded, not guessed.
    * Per-week churn rate in exact ppm.
    *
    * Scale shape: one distinct (user, week) rollup, one user-
    * partitioned lead window over the user-weeks table, a broadcast
    * 1-row max-week bound, and a |weeks|-row report.
    */
  def q168_churn_labels(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("week")
    val maxW = uw.agg(max(col("week")).as("max_week"))
    uw.withColumn("next_week", lead(col("week"), 1).over(w))
      .crossJoin(broadcast(maxW))
      .filter(col("week") < col("max_week"))
      .withColumn("churned",
        col("next_week").isNull || col("next_week") =!= date_add(col("week"), 7))
      .groupBy(date_format(col("week"), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).cast("long").as("n_active"),
        count_if(col("churned")).cast("long").as("n_churned"))
      .withColumn("churn_ppm", expr("(n_churned * 1000000) DIV n_active"))
      .orderBy("week")
  }

  val q168_oracle: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |l AS (
      |  SELECT user_id, week,
      |    lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
      |  FROM uw),
      |m AS (SELECT max(week) AS max_week FROM uw)
      |SELECT strftime(week, '%Y-%m-%d') AS week,
      |  CAST(count(*) AS BIGINT) AS n_active,
      |  CAST(count(*) FILTER (WHERE next_week IS NULL
      |    OR next_week <> week + 7) AS BIGINT) AS n_churned,
      |  (count(*) FILTER (WHERE next_week IS NULL
      |    OR next_week <> week + 7) * 1000000) // count(*)
      |    AS churn_ppm
      |FROM l CROSS JOIN m
      |WHERE week < max_week
      |GROUP BY week ORDER BY week""".stripMargin

  // ---------- q164: time-to-convert distribution ----------

  /** Time-to-convert through the q65 funnel — the "how long does the
    * journey take" half of funnel analytics (q65 counts WHO reaches
    * each stage; this measures WHEN): per converting user, seconds
    * from first view to the first qualifying purchase (q65's exact
    * stage chain, so a purchase before the view chain never counts),
    * summarized as n / mean / EXACT p50/p90 order statistics by rank
    * arithmetic (the q32/q145 rule — the value AT a rank is
    * deterministic under any tie order).
    *
    * Scale shape: the stage tables are q65's user-sized
    * Lineage-cut aggregates; deltas are user-sized; the rank window
    * runs over converts only.
    */
  def q164_funnel_time(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = graft.Lineage.cut(ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view")))
    val c = graft.Lineage.cut(ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click")))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    val deltas = p.join(v, "user_id")
      .select((col("t_purchase").cast("long") - col("t_view").cast("long"))
        .as("delta_s"), col("user_id"))
    graft.operators.RangeRank.rank(deltas, Nil,
        Seq(graft.operators.RangeRank.Key("delta_s"),
          graft.operators.RangeRank.Key("user_id")), "rnk", "n")
      .groupBy("n")
      .agg(
        expr("CAST(sum(delta_s) DIV max(n) AS BIGINT)").as("mean_s"),
        min(when(col("rnk") === expr("(n + 1) DIV 2"), col("delta_s"))).as("p50_s"),
        min(when(col("rnk") === expr("(9 * n + 9) DIV 10"), col("delta_s"))).as("p90_s"))
      .select(col("n").as("n_converts"), col("mean_s"), col("p50_s"), col("p90_s"))
  }

  val q164_oracle: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      |  GROUP BY e.user_id),
      |d AS (
      |  SELECT p.user_id,
      |    CAST(floor(epoch(t_purchase)) AS BIGINT)
      |      - CAST(floor(epoch(t_view)) AS BIGINT) AS delta_s
      |  FROM p JOIN v ON p.user_id = v.user_id),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY delta_s, user_id) AS rnk,
      |    count(*) OVER () AS n
      |  FROM d)
      |SELECT CAST(max(n) AS BIGINT) AS n_converts,
      |  CAST(sum(delta_s) // max(n) AS BIGINT) AS mean_s,
      |  min(CASE WHEN rnk = (n + 1) // 2 THEN delta_s END) AS p50_s,
      |  min(CASE WHEN rnk = (9 * n + 9) // 10 THEN delta_s END) AS p90_s
      |FROM r""".stripMargin

  // ---------- q162: A/B experiment analysis with exact inference ----------

  /** χ²(1) critical value at α = 0.05, in micro-units (3.841459…). */
  val abSigThresholdMicro = 3841459L

  /** A/B-test readout with INTEGER-EXACT inference (the
    * experimentation-platform core): users deterministically split
    * 50/50 by a salted content hash (no assignment table, immune to
    * re-randomization drift — the q33 rule), outcome = converted
    * (≥1 purchase), and the two-proportion z-test is algebraically
    * cleared of all divisions and square roots:
    * `z² = (c₁n₂ − c₂n₁)²·N / (n₁·n₂·C·(N−C))` with C = c₁+c₂ —
    * emitted in micro-units by one DIV, compared against the χ²
    * critical value in the same units, so the SIGNIFICANCE VERDICT
    * itself hash-matches across engines (a float z-test can flip the
    * verdict in the last ulp at the boundary). Wide products in
    * decimal(38,0)/HUGEINT — exact to n ~ 10⁸ per arm; past that,
    * run the identical formula on ppm-scaled rates (the q142 trick).
    *
    * Scale shape: one narrow scan → per-user any-purchase rollup
    * (user-keyed partial agg) → a 2-row arm aggregate; the test
    * statistic is driver-free scalar algebra on the 2-row table.
    */
  def q162_abtest(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val arms = Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 200.0, 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("exp1|"), col("user_id").cast("string"))), 1, 1),
          16, 10).cast("int") < 8, "A").otherwise("B"))
      .groupBy("variant")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("converted")).cast("long").as("conv"))
    val a = arms.filter(col("variant") === "A")
      .select(col("n").as("n_a"), col("conv").as("c_a"))
    val b = arms.filter(col("variant") === "B")
      .select(col("n").as("n_b"), col("conv").as("c_b"))
    a.crossJoin(b)
      .withColumn("rate_a_ppm", expr("(c_a * 1000000) DIV n_a"))
      .withColumn("rate_b_ppm", expr("(c_b * 1000000) DIV n_b"))
      .withColumn("z2_micro", when(
        col("c_a") + col("c_b") > 0 &&
          col("c_a") + col("c_b") < col("n_a") + col("n_b"), expr(
        s"""CAST((CAST(c_a AS $dec38) * n_b - CAST(c_b AS $dec38) * n_a)
           | * (CAST(c_a AS $dec38) * n_b - CAST(c_b AS $dec38) * n_a)
           | * (n_a + n_b) * 1000000 DIV
           | (CAST(n_a AS $dec38) * n_b * (c_a + c_b)
           |  * (n_a + n_b - c_a - c_b)) AS BIGINT)""".stripMargin.replace("\n", " "))))
      .withColumn("significant", col("z2_micro") > abSigThresholdMicro)
      .select("n_a", "n_b", "c_a", "c_b", "rate_a_ppm", "rate_b_ppm",
        "z2_micro", "significant")
  }

  val q162_oracle: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND value >= 200.0 THEN 1 ELSE 0 END)
       |      AS converted,
       |    CASE WHEN CAST(concat('0x', substring(
       |        md5(concat('exp1|', CAST(user_id AS VARCHAR))), 1, 1)) AS INTEGER) < 8
       |      THEN 'A' ELSE 'B' END AS variant
       |  FROM events GROUP BY user_id),
       |arms AS (
       |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(converted) AS BIGINT) AS conv
       |  FROM u GROUP BY variant),
       |ab AS (
       |  SELECT
       |    (SELECT n FROM arms WHERE variant = 'A') AS n_a,
       |    (SELECT n FROM arms WHERE variant = 'B') AS n_b,
       |    (SELECT conv FROM arms WHERE variant = 'A') AS c_a,
       |    (SELECT conv FROM arms WHERE variant = 'B') AS c_b),
       |z AS (
       |  SELECT *, CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
       |    CAST((CAST(c_a AS HUGEINT) * n_b - CAST(c_b AS HUGEINT) * n_a)
       |      * (CAST(c_a AS HUGEINT) * n_b - CAST(c_b AS HUGEINT) * n_a)
       |      * (n_a + n_b) * 1000000
       |      // (CAST(n_a AS HUGEINT) * n_b * (c_a + c_b)
       |         * (n_a + n_b - c_a - c_b)) AS BIGINT) END AS z2_micro
       |  FROM ab)
       |SELECT n_a, n_b, c_a, c_b,
       |  (c_a * 1000000) // n_a AS rate_a_ppm,
       |  (c_b * 1000000) // n_b AS rate_b_ppm,
       |  z2_micro,
       |  z2_micro > $abSigThresholdMicro AS significant
       |FROM z""".stripMargin

  // ---------- q163: RFM customer segmentation ----------

  /** RFM segmentation (the classic CRM/value model): per user —
    * Recency (days since last event vs the q135 pinned anchor),
    * Frequency (events), Monetary (purchase cents, exact) — each
    * scored into quintiles by `ntile(5)` over a (metric, user_id)
    * total order (deterministic; recency tiles ascending so 5 = most
    * recent), concatenated into the 3-digit RFM cell; output is the
    * cell-level summary (users, mean monetary in exact cents DIV).
    *
    * Scale shape: one user-keyed rollup, then three exact quintile
    * assignments over the USER-sized table via
    * [[graft.operators.RangeRank]] (sample-boundary buckets + offset
    * windows + the SQL NTILE formula — no single-task ntile sorts),
    * then a ≤125-row cell aggregate.
    */
  def q163_rfm(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val per = Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg(
        datediff(lit("2024-01-31").cast("date"), max(col("ts")).cast("date"))
          .cast("int").as("recency_days"),
        count(lit(1)).cast("long").as("frequency"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))), lit(0L)).as("monetary_cents"))
    // all three quintiles in ONE fused pass: shared boundary probe
    // (multi-column approxQuantile) + shared offset-stats pass
    // (grouping sets) instead of three probe/stats pairs
    def spec(c: String, asc: Boolean, i: Int) = RangeRank.Spec(
      Seq(RangeRank.Key(c, desc = !asc), RangeRank.Key("user_id")),
      s"__rnk$i", s"__n$i")
    RangeRank.rankMulti(per, Nil, Seq(
        spec("recency_days", asc = false, 1), // most recent → tile 5
        spec("frequency", asc = true, 2),
        spec("monetary_cents", asc = true, 3)))
      .withColumn("r", RangeRank.ntileFromRank("__rnk1", "__n1", 5))
      .withColumn("f", RangeRank.ntileFromRank("__rnk2", "__n2", 5))
      .withColumn("m", RangeRank.ntileFromRank("__rnk3", "__n3", 5))
      .drop("__rnk1", "__n1", "__rnk2", "__n2", "__rnk3", "__n3")
      .withColumn("rfm", col("r") * 100 + col("f") * 10 + col("m"))
      .groupBy("rfm")
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("monetary_cents")).cast("long").as("cents_sum"),
        expr("CAST(sum(monetary_cents) DIV count(*) AS BIGINT)").as("mean_cents"))
      .orderBy("rfm")
  }

  val q163_oracle: String =
    """WITH per AS (
      |  SELECT user_id,
      |    CAST(date_diff('day', CAST(max(ts) AS DATE), DATE '2024-01-31') AS INTEGER)
      |      AS recency_days,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
      |      AS monetary_cents
      |  FROM events GROUP BY user_id),
      |t AS (
      |  SELECT *,
      |    ntile(5) OVER (ORDER BY recency_days DESC, user_id ASC) AS r,
      |    ntile(5) OVER (ORDER BY frequency ASC, user_id ASC) AS f,
      |    ntile(5) OVER (ORDER BY monetary_cents ASC, user_id ASC) AS m
      |  FROM per)
      |SELECT r * 100 + f * 10 + m AS rfm,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(monetary_cents) AS BIGINT) AS cents_sum,
      |  CAST(sum(monetary_cents) // count(*) AS BIGINT) AS mean_cents
      |FROM t GROUP BY 1 ORDER BY rfm""".stripMargin

  // ---------- q243: user-lifetime survival table ----------

  /** Discrete survival (life-table) over user lifetimes: per observed
    * lifetime d (whole HOURS between a user's first and last event —
    * elapsed-seconds DIV 3600, identical truncation in both engines),
    * the number of users whose activity span ended AT d (churned),
    * the number still "at risk" (span ≥ d), and the exact survival /
    * hazard fractions in ppm — the retention curve a cohort report
    * reads off.
    *
    * Scale shape: one user-keyed aggregate (first/last event — the
    * same shuffle q66/q168 pay), then [[graft.operators.ValueAxis]]
    * over the lifetime axis: a hash aggregation to the DISTINCT
    * lifetime values plus a cumulative window bounded by the HOUR
    * DOMAIN (calendar span of the corpus — grows with time, never
    * with row count). All arithmetic integer-exact; no corpus-scale
    * window anywhere.
    */
  def q243_survival(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ValueAxis
    val life = Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg(expr("(unix_timestamp(max(ts)) - unix_timestamp(min(ts))) DIV 3600")
        .cast("long").as("lifetime_hours"))
    ValueAxis.axis(life, Nil, "lifetime_hours")
      .select(col("lifetime_hours"),
        col("cnt").as("n_churned"),
        (col("n") - col("lo")).as("n_at_risk"),
        expr("((n - hi) * 1000000) DIV n").as("survival_ppm"),
        expr("(cnt * 1000000) DIV (n - lo)").as("hazard_ppm"))
      .orderBy("lifetime_hours")
  }

  val q243_oracle: String =
    """WITH life AS (
      |  SELECT user_id,
      |    CAST((CAST(floor(epoch(max(ts))) AS BIGINT)
      |      - CAST(floor(epoch(min(ts))) AS BIGINT)) // 3600 AS BIGINT)
      |      AS lifetime_hours
      |  FROM events GROUP BY user_id),
      |ax AS (SELECT lifetime_hours, CAST(count(*) AS BIGINT) AS cnt
      |  FROM life GROUP BY lifetime_hours),
      |c AS (
      |  SELECT lifetime_hours, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY lifetime_hours) AS BIGINT) AS hi,
      |    CAST(sum(cnt) OVER (ORDER BY lifetime_hours) - cnt AS BIGINT) AS lo,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM ax)
      |SELECT lifetime_hours, cnt AS n_churned,
      |  n - lo AS n_at_risk,
      |  CAST(((n - hi) * 1000000) // n AS BIGINT) AS survival_ppm,
      |  CAST((cnt * 1000000) // (n - lo) AS BIGINT) AS hazard_ppm
      |FROM c ORDER BY lifetime_hours""".stripMargin

  // ---------- q256: CUSUM changepoint over daily volume ----------

  /** CUSUM drift detection over the daily ingest-volume series — the
    * monitor that catches a level shift (a source going dark, a crawl
    * doubling) that per-day thresholds miss because no single day is
    * extreme. The classic statistic Σ_{j≤i}(c_j − mean) is kept
    * EXACT by scaling through the day count: cusum_i = D·cum_i − i·T
    * (D days, T total — integers, no mean division anywhere; the last
    * day closes at exactly 0 by construction). `is_peak` marks the
    * |CUSUM|-maximal day(s) — the standard CUSUM changepoint estimate.
    *
    * Scale shape: one partial-agg shuffle to the DAY axis (calendar
    * domain — grows with time, never with row count; q243's ValueAxis
    * argument); the cum/index windows and the 1-row totals/peak
    * crosses all run over that bounded axis.
    */
  def q256_cusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val tot = daily.agg(
      count(lit(1)).cast("long").as("n_days"),
      sum(col("n_events")).cast("long").as("total"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = daily.crossJoin(tot) // 1-row totals: broadcast-scalar
      .withColumn("cum", sum(col("n_events")).over(wCum).cast("long"))
      .withColumn("idx", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("cusum_scaled",
        col("n_days") * col("cum") - col("idx") * col("total"))
    c.crossJoin(c.agg(max(abs(col("cusum_scaled"))).as("peak_abs")))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("cusum_scaled"),
        (abs(col("cusum_scaled")) === col("peak_abs")).as("is_peak"))
      .orderBy("day") // yyyy-MM-dd: lexical == chronological
  }

  val q256_oracle: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
      |        CAST(sum(n_events) AS BIGINT) AS total FROM d),
      |c AS (SELECT day, n_events,
      |    CAST(n_days * CAST(sum(n_events) OVER (ORDER BY day) AS BIGINT)
      |      - CAST(row_number() OVER (ORDER BY day) AS BIGINT) * total
      |      AS BIGINT) AS cusum_scaled
      |  FROM d CROSS JOIN t),
      |p AS (SELECT max(abs(cusum_scaled)) AS peak_abs FROM c)
      |SELECT strftime(day, '%Y-%m-%d') AS day, n_events, cusum_scaled,
      |  abs(cusum_scaled) = peak_abs AS is_peak
      |FROM c CROSS JOIN p ORDER BY day""".stripMargin

  // ---------- q272: top session paths ----------

  /** Path prefix length and report size. */
  val pathLen = 5
  val topPathsK = 20

  /** The TOP SESSION PATHS report — the "what do sessions actually
    * look like" table funnel design starts from (q65 assumes
    * view→click→purchase; this measures which orderings really
    * happen): sessions are q18's 30-minute-gap windows, a session's
    * path is its first [[pathLen]] event types joined in time order
    * (ties broken by event_id — the path string is total-ordered),
    * and the report is the [[topPathsK]] most frequent paths with
    * path as the tie-break.
    *
    * Scale shape: ONE user-partitioned window pass (q18's shuffle)
    * for session ids; the per-session path is an array_sort over the
    * SESSION's own events (session-bounded, never corpus-sorted);
    * path counts are one partial-agg rollup and the report rides
    * TakeOrdered.
    */
  def q272_session_paths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = Tables.load(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 30 * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "session_id")
      .agg(expr(
        s"""concat_ws('>', slice(transform(
           |  array_sort(collect_list(struct(ts, event_id, event_type))),
           |  x -> x.event_type), 1, $pathLen))""".stripMargin).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).cast("long").as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topPathsK)
  }

  val q272_oracle: String =
    s"""WITH s AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    sum(CASE WHEN prev_ts IS NULL
       |          OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM (
       |    SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_ts
       |    FROM events)),
       |p AS (
       |  SELECT user_id, session_id,
       |    array_to_string(
       |      (list(event_type ORDER BY ts, event_id))[1:$pathLen], '>') AS path
       |  FROM s GROUP BY user_id, session_id)
       |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
       |FROM p GROUP BY path
       |ORDER BY n_sessions DESC, path LIMIT $topPathsK""".stripMargin

  // ---------- q265: position-based (U-shaped) attribution ----------

  /** q150's credit model is LINEAR (equal split); this is the
    * POSITION-BASED (U-shaped 40/20/40) model the two are always
    * compared under: within each purchase's touch window (same
    * interval join, same [[attributionDays]]), the FIRST touch gets
    * 40%, the LAST 40%, the middles split the remaining 20% —
    * k=1 takes all, k=2 splits 50/50. Credit stays integer micro-
    * shares (`DIV` on the middle split; the truncation loss is
    * documented, deterministic, and identical in both engines), and
    * positions are total-ordered by (ts, event_id) so first/last are
    * unambiguous under timestamp ties.
    *
    * Scale shape: q150's user-keyed interval join verbatim; position
    * and touch count ride ONE window partitioned by purchase id
    * (per-purchase touch lists are attribution-window-bounded, never
    * corpus-scaled); the report is one (user, touch_type) rollup with
    * decimal(38,0) credit sums.
    */
  def q265_position_attribution(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("pts"),
        round(col("value") * 100).cast("long").as("cents"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("touch_type"), col("ts").as("tts"))
    val attributed = touches.join(purchases, Seq("user_id"))
      .filter(col("tts") < col("pts") &&
        col("pts") <= col("tts") + expr(s"INTERVAL $attributionDays DAYS"))
    val wPos = Window.partitionBy("p_id").orderBy(col("tts"), col("t_id"))
    val wCnt = Window.partitionBy("p_id")
    attributed
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .withColumn("k", count(lit(1)).over(wCnt).cast("long"))
      .withColumn("share_micro",
        when(col("k") === 1, lit(1000000L))
          .when(col("k") === 2, lit(500000L))
          .when(col("pos") === 1 || col("pos") === col("k"), lit(400000L))
          .otherwise(expr("200000 DIV (k - 2)")))
      .withColumn("credit_micro", expr("cents * share_micro"))
      .groupBy("user_id", "touch_type")
      .agg(count(lit(1)).cast("long").as("n_attributions"),
        sum(col("credit_micro").cast(dec38)).cast("long").as("credit_micro_sum"))
      .orderBy("user_id", "touch_type")
  }

  val q265_oracle: String =
    s"""WITH p AS (
       |  SELECT user_id, event_id AS p_id, ts AS pts,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |t AS (
       |  SELECT user_id, event_id AS t_id, event_type AS touch_type, ts AS tts
       |  FROM events WHERE event_type IN ('view', 'click')),
       |a AS (
       |  SELECT t.user_id, t.touch_type, t.t_id, t.tts, p.p_id, p.cents
       |  FROM t JOIN p ON t.user_id = p.user_id
       |  WHERE t.tts < p.pts
       |    AND p.pts <= t.tts + INTERVAL $attributionDays DAYS),
       |pos AS (
       |  SELECT *,
       |    CAST(row_number() OVER (PARTITION BY p_id ORDER BY tts, t_id) AS BIGINT) AS pos,
       |    CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS k
       |  FROM a),
       |sh AS (
       |  SELECT user_id, touch_type, cents,
       |    CASE WHEN k = 1 THEN 1000000
       |         WHEN k = 2 THEN 500000
       |         WHEN pos = 1 OR pos = k THEN 400000
       |         ELSE 200000 // (k - 2) END AS share_micro
       |  FROM pos)
       |SELECT user_id, touch_type,
       |  CAST(count(*) AS BIGINT) AS n_attributions,
       |  CAST(sum(CAST(cents * share_micro AS DECIMAL(38,0))) AS BIGINT)
       |    AS credit_micro_sum
       |FROM sh GROUP BY user_id, touch_type
       |ORDER BY user_id, touch_type""".stripMargin

  // ---------- q262: cohort lifetime-value matrix ----------

  /** The LTV companion to q66's retention matrix: per (signup-week
    * cohort, weeks since signup) the buying users, exact purchase
    * cents, and the cohort's CUMULATIVE revenue — the table a payback
    * model reads off ("week-N revenue per week-0 user"). Same cohort
    * definition as q66 (first observed week), value in q176's exact
    * cents recipe (`round(value·100)` per event, summed as longs).
    *
    * Scale shape: one user-keyed min (the q66 shuffle), one
    * (cohort, week)-keyed aggregate; the cumulative window partitions
    * by cohort over the WEEKS-SINCE axis — calendar-bounded, never
    * row-scaled.
    */
  def q262_cohort_ltv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"),
        col("event_type"), col("value"))
    val cohorts = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val cells = ev.join(cohorts, "user_id")
      .withColumn("weeks_since",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "weeks_since")
      .agg(
        count_distinct(when(col("event_type") === "purchase", col("user_id")))
          .cast("long").as("n_buyers"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))), lit(0L))
          .cast("long").as("purchase_cents"))
    val wCum = Window.partitionBy("cohort_week").orderBy("weeks_since")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_cents", sum(col("purchase_cents")).over(wCum).cast("long"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("weeks_since"), col("n_buyers"), col("purchase_cents"),
        col("cum_cents"))
      .orderBy("cohort_week", "weeks_since")
  }

  val q262_oracle: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
      |    event_type, value
      |  FROM events),
      |cohorts AS (
      |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
      |cells AS (
      |  SELECT cohort_week,
      |    CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS weeks_since,
      |    CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
      |      THEN user_id END) AS BIGINT) AS n_buyers,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
      |      AS purchase_cents
      |  FROM ev JOIN cohorts USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, weeks_since,
      |  n_buyers, purchase_cents,
      |  CAST(sum(purchase_cents) OVER (PARTITION BY cohort_week
      |    ORDER BY weeks_since ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |FROM cells ORDER BY cohort_week, weeks_since""".stripMargin

  // ---------- q259: lag autocorrelation of the daily series ----------

  /** Autocorrelation horizon in days. */
  val acLags = 7

  /** Lag-k autocorrelation of the daily event-volume series, k = 1…7 —
    * q256's companion: CUSUM finds the level shift, the ACF profile
    * finds the PERIOD (a day-of-week crawl cadence shows as an r(7)
    * spike). Mean removal stays integer through q256's scaling trick:
    * a_i = D·c_i − T is D·(c_i − mean) exactly, and the D² factors
    * cancel in r = Σa_i·a_{i+k} / Σa_i². Products accumulate in
    * DECIMAL(38,0) (exact at any corpus size — int64 would overflow at
    * ~3·10⁹ events/day), and r divides the two exactly-summed
    * integers once, as doubles, at the very end.
    *
    * Scale shape: one partial-agg shuffle to the DAY axis; the lag
    * pairing is an equi-join of the axis with itself shifted (lags
    * ride a 7-row literal), all on the calendar-bounded series.
    */
  def q259_autocorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec38 = DecimalType(38, 0)
    val daily = Tables.load(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val tot = daily.agg(
      count(lit(1)).cast("long").as("n_days"),
      sum(col("n_events")).cast("long").as("total"))
    val series = daily.crossJoin(tot) // 1-row scalars
      .withColumn("idx", row_number().over(Window.orderBy("day")).cast("long"))
      .select(col("idx"),
        (col("n_days") * col("n_events") - col("total")).as("a"))
    val den = series.agg(
      sum(col("a").cast(dec38) * col("a").cast(dec38)).cast(dec38).as("den"))
    val lags = (1 to acLags).map(lit(_)).toArray
    series.select(col("idx"), col("a"),
        explode(array(lags.toIndexedSeq: _*)).as("lag_i"))
      .withColumn("lag", col("lag_i").cast("long")).drop("lag_i")
      .join(series.select(col("idx").as("j_idx"), col("a").as("b")),
        col("j_idx") === col("idx") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("a").cast(dec38) * col("b").cast(dec38)).cast(dec38).as("num"))
      .crossJoin(den) // 1-row
      .select(col("lag"), col("n_pairs"),
        col("num").cast("double").as("num_d"),
        col("den").cast("double").as("den_d"),
        (col("num").cast("double") / col("den").cast("double")).as("r"))
      .orderBy("lag")
  }

  val q259_oracle: String =
    s"""WITH d AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
       |        CAST(sum(n_events) AS BIGINT) AS total FROM d),
       |s AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
       |        CAST(n_days * n_events - total AS BIGINT) AS a
       |      FROM d CROSS JOIN t),
       |den AS (SELECT CAST(sum(CAST(a AS DECIMAL(38,0)) * a) AS DOUBLE) AS den_d
       |        FROM s),
       |l AS (SELECT CAST(unnest([1,2,3,4,5,6,7]) AS BIGINT) AS lag),
       |p AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
       |        CAST(sum(CAST(s1.a AS DECIMAL(38,0)) * s2.a) AS DOUBLE) AS num_d
       |      FROM l JOIN s s1 ON true JOIN s s2 ON s2.idx = s1.idx + l.lag
       |      GROUP BY l.lag)
       |SELECT lag, n_pairs, num_d, den_d, num_d / den_d AS r
       |FROM p CROSS JOIN den ORDER BY lag""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q259_autocorr" -> (q259_autocorr _),
    "q262_cohort_ltv" -> (q262_cohort_ltv _),
    "q265_position_attribution" -> (q265_position_attribution _),
    "q272_session_paths" -> (q272_session_paths _),
    "q256_cusum" -> (q256_cusum _),
    "q243_survival" -> (q243_survival _),
    "q157_wow_change" -> (q157_wow_change _),
    "q162_abtest" -> (q162_abtest _),
    "q164_funnel_time" -> (q164_funnel_time _),
    "q168_churn_labels" -> (q168_churn_labels _),
    "q176_seasonality" -> (q176_seasonality _),
    "q177_event_trigrams" -> (q177_event_trigrams _),
    "q163_rfm" -> (q163_rfm _),
    "q150_attribution" -> (q150_attribution _),
    "q65_funnel" -> (q65_funnel _),
    "q66_retention" -> (q66_retention _),
    "q128_transitions" -> (q128_transitions _),
    "q135_decay_score" -> (q135_decay_score _))

  val oracles: Map[String, String] = Map(
    "q259_autocorr" -> q259_oracle,
    "q262_cohort_ltv" -> q262_oracle,
    "q265_position_attribution" -> q265_oracle,
    "q272_session_paths" -> q272_oracle,
    "q256_cusum" -> q256_oracle,
    "q243_survival" -> q243_oracle,
    "q65_funnel" -> q65_oracle,
    "q66_retention" -> q66_oracle,
    "q128_transitions" -> q128_oracle,
    "q135_decay_score" -> q135_oracle,
    "q150_attribution" -> q150_oracle,
    "q157_wow_change" -> q157_oracle,
    "q162_abtest" -> q162_oracle,
    "q164_funnel_time" -> q164_oracle,
    "q168_churn_labels" -> q168_oracle,
    "q176_seasonality" -> q176_oracle,
    "q177_event_trigrams" -> q177_oracle,
    "q163_rfm" -> q163_oracle)
}
