package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators.ValueAxis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-statistics operators added in round 11 (SURVEY §2
  * #196–#201): lexical richness, exact distribution-tail geometry,
  * rational diversity/dispersion indices, dedup-cluster size
  * structure, and planner-style cardinality-estimate audits. All
  * integer/rational-exact (the §4 policy), all hash aggregations or
  * domain-bounded axis windows — nothing corpus-sized ever sorts in
  * one task.
  */
object RichnessQueries extends graft.QueryFamily {

  // ---------- q196: lexical richness (hapax / type-token) ----------

  /** Per-source lexical richness: token count, type (distinct-token)
    * count, hapax legomena (types occurring exactly once), and the
    * hapax and type-token ratios in exact ppm. The corpus-linguistics
    * screen for TEMPLATED vs ORGANIC text: boilerplate-heavy sources
    * show low hapax share (the same strings recur), scraped organic
    * prose sits far higher — which makes this the cheap first-pass
    * signal for "is this source worth near-dup analysis at all".
    *
    * Scale shape: one (source, token) partial-agg shuffle (map-side
    * combined — the vocabulary is the shuffle, never the corpus),
    * then a |vocab|-sized rollup. No windows, no sorts.
    */
  def q196_hapax(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).cast("long").as("cnt"))
      .groupBy("source")
      .agg(
        sum(col("cnt")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        count_if(col("cnt") === 1).cast("long").as("n_hapax"))
      .withColumn("hapax_ppm", expr("(n_hapax * 1000000) DIV n_types"))
      .withColumn("ttr_ppm", expr("(n_types * 1000000) DIV n_tokens"))
      .orderBy("source")

  val q196_oracle: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(${T.tokensSql("text")}) AS tok FROM documents),
       |c AS (
       |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY source, tok)
       |SELECT source,
       |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(count(*) FILTER (WHERE cnt = 1) AS BIGINT) AS n_hapax,
       |  CAST((count(*) FILTER (WHERE cnt = 1) * 1000000) // count(*)
       |    AS BIGINT) AS hapax_ppm,
       |  CAST((count(*) * 1000000) // sum(cnt) AS BIGINT) AS ttr_ppm
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---------- q197: exact tail-ratio geometry ----------

  /** Distribution-tail geometry per event type from EXACT order
    * statistics: p50/p90/p99/p999 (nearest-rank, the q32 rule) and
    * the consecutive tail ratios in ppm — the log-free heavy-tail
    * summary ("does each decade of tail stretch further than the
    * last?") that decides winsorization and skew-salting policy
    * without fitting a Pareto exponent in floats.
    *
    * Scale shape: everything reads off the DISTINCT-cents axis
    * ([[ValueAxis]] — hash agg + domain-bounded window); ratios are
    * guarded integer DIVs of two order statistics.
    */
  def q197_tail_ratio(spark: SparkSession, dir: String): DataFrame = {
    val ax = ValueAxis.axis(
      Tables.load(spark, dir, "events")
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents")),
      Seq("event_type"), "cents")
    def p(q: Double, name: String) =
      ValueAxis.valueAtRank("cents", ceil(lit(q) * col("n"))).as(name)
    ax.groupBy("event_type")
      .agg(max(col("n")).as("n_events"),
        p(0.5, "p50_cents"), p(0.9, "p90_cents"),
        p(0.99, "p99_cents"), p(0.999, "p999_cents"))
      .withColumn("tail_90_50_ppm",
        when(col("p50_cents") > 0, expr("(p90_cents * 1000000) DIV p50_cents")))
      .withColumn("tail_99_90_ppm",
        when(col("p90_cents") > 0, expr("(p99_cents * 1000000) DIV p90_cents")))
      .withColumn("tail_999_99_ppm",
        when(col("p99_cents") > 0, expr("(p999_cents * 1000000) DIV p99_cents")))
      .orderBy("event_type")
  }

  val q197_oracle: String = {
    val ps = Seq(0.5 -> "p50_cents", 0.9 -> "p90_cents",
      0.99 -> "p99_cents", 0.999 -> "p999_cents")
    val cols = ps.map { case (q, nm) =>
      s"max(CASE WHEN rk = ceil($q * n) THEN cents END) AS $nm" }
    s"""WITH r AS (
       |  SELECT event_type, cents,
       |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
       |        FROM events)),
       |s AS (
       |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
       |    ${cols.mkString(",\n    ")}
       |  FROM r GROUP BY event_type)
       |SELECT event_type, n_events, p50_cents, p90_cents, p99_cents, p999_cents,
       |  CASE WHEN p50_cents > 0
       |    THEN CAST((p90_cents * 1000000) // p50_cents AS BIGINT) END
       |    AS tail_90_50_ppm,
       |  CASE WHEN p90_cents > 0
       |    THEN CAST((p99_cents * 1000000) // p90_cents AS BIGINT) END
       |    AS tail_99_90_ppm,
       |  CASE WHEN p99_cents > 0
       |    THEN CAST((p999_cents * 1000000) // p99_cents AS BIGINT) END
       |    AS tail_999_99_ppm
       |FROM s ORDER BY event_type""".stripMargin
  }

  // ---------- q198: Gini–Simpson vocabulary diversity ----------

  /** Per-source Gini–Simpson diversity of the token distribution,
    * `1 − Σ pᵢ²`, in exact ppm: `((T² − Σc²)·10⁶) DIV T²` with T the
    * token total and c the per-type counts — the RATIONAL diversity
    * index (Shannon entropy needs a log; this one is a polynomial in
    * counts, so it hash-matches across engines). Near 0 = one token
    * dominates (degenerate/templated text); near 10⁶ = uniform
    * vocabulary. The repetition complement of q196's hapax view.
    *
    * Scale shape: the same (source, token) partial-agg shuffle as
    * q196; Σc² rides decimal(38,0) (c ≤ 10¹² → c² ≤ 10²⁴).
    */
  def q198_simpson_diversity(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    Tables.load(spark, dir, "documents")
      .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).cast("long").as("cnt"))
      .groupBy("source")
      .agg(
        sum(col("cnt")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum(expr(s"CAST(cnt AS $dec38) * cnt")).cast(dec38).as("s2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr(s"CAST(((CAST(n_tokens AS $dec38) * n_tokens - s2) * 1000000) " +
          s"DIV (CAST(n_tokens AS $dec38) * n_tokens) AS BIGINT)")
          .as("simpson_ppm"))
      .orderBy("source")
  }

  val q198_oracle: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(${T.tokensSql("text")}) AS tok FROM documents),
       |c AS (
       |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY source, tok)
       |SELECT source,
       |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(((CAST(sum(cnt) AS HUGEINT) * sum(cnt)
       |      - sum(CAST(cnt AS HUGEINT) * cnt)) * 1000000)
       |    // (CAST(sum(cnt) AS HUGEINT) * sum(cnt)) AS BIGINT)
       |    AS simpson_ppm
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---------- q199: user-activity dispersion (Fano factor) ----------

  /** Per-event-type dispersion of user activity — the Fano factor
    * (variance-to-mean ratio of per-user event counts) in exact ppm:
    * `(N·Σx² − (Σx)²)·10⁶ DIV (N·Σx)`. 10⁶ = Poisson-like (events
    * spread uniformly over users); far above = bursty/bot-heavy
    * traffic concentrated in few users — the signal that decides
    * per-user rate caps and skew salting before a user-keyed join.
    *
    * Scale shape: one user-keyed partial-agg shuffle, then a
    * |users|-sized rollup per type; moments in decimal(38,0).
    */
  def q199_fano(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    Tables.load(spark, dir, "events")
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).cast("long").as("x"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("long").as("n_users"),
        sum(col("x")).cast("long").as("n_events"),
        sum(expr(s"CAST(x AS $dec38) * x")).cast(dec38).as("sxx"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        expr(s"CAST(((CAST(n_users AS $dec38) * sxx " +
          s"- CAST(n_events AS $dec38) * n_events) * 1000000) " +
          s"DIV (CAST(n_users AS $dec38) * n_events) AS BIGINT)")
          .as("fano_ppm"))
      .orderBy("event_type")
  }

  val q199_oracle: String =
    """WITH per AS (
      |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY event_type, user_id)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(x) AS BIGINT) AS n_events,
      |  CAST(((CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
      |      - CAST(sum(x) AS HUGEINT) * sum(x)) * 1000000)
      |    // (CAST(count(*) AS HUGEINT) * sum(x)) AS BIGINT) AS fano_ppm
      |FROM per GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- q200: dedup-cluster size structure ----------

  /** Size distribution of the near-dup cluster graph — the shape
    * report over q47's clusters that a dedup POLICY is actually set
    * from: how many docs are singletons (kept as-is), how much of the
    * corpus sits in small pairs vs giant boilerplate clusters (where
    * keep-one-per-cluster removes almost everything). Per cluster
    * size: cluster count and docs covered; singletons = corpus minus
    * clustered docs.
    *
    * Scale shape: q47's bucket-bounded LSH pair table + min-label
    * propagation over PAIR VERTICES only; the size rollup is
    * |clusters|-sized; the singleton row needs one corpus COUNT
    * (no data movement) broadcast as a 1-row join.
    */
  def q200_cluster_sizes(spark: SparkSession, dir: String): DataFrame = {
    val cc = TextQueries.dupClusters(spark, dir)
    val perCluster = cc.groupBy("component")
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    val multi = perCluster.groupBy("cluster_size")
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val totals = Tables.load(spark, dir, "documents")
      .agg(count(lit(1)).cast("long").as("n_total"))
    val clustered = cc.agg(count(lit(1)).cast("long").as("n_clustered"))
    val singletons = totals.crossJoin(broadcast(clustered))
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"))
    singletons.unionByName(multi).orderBy("cluster_size")
  }

  val q200_oracle: String =
    s"""WITH RECURSIVE pairs AS (${TextQueries.lshPairsSql}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM lab GROUP BY cluster_id),
       |multi AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |          FROM cs GROUP BY cluster_size),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |ind AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM lab)
       |SELECT CAST(1 AS BIGINT) AS cluster_size,
       |  (tot.n - ind.nc) AS n_clusters, (tot.n - ind.nc) AS n_docs
       |FROM tot, ind
       |UNION ALL
       |SELECT cluster_size, n_clusters, cluster_size * n_clusters AS n_docs
       |FROM multi
       |ORDER BY cluster_size""".stripMargin

  // ---------- q201: join-cardinality estimate audit ----------

  /** Planner-statistics audit: how far the textbook uniform
    * join-cardinality estimate `n²/ndv` is from the TRUE self-equi-
    * join size `Σ cᵢ²` on the order-date key — the uniformity error a
    * cost-based optimizer silently eats on every skewed key. By
    * Cauchy–Schwarz `Σc² ≥ n²/ndv`, so the report is a non-negative
    * UNDERESTIMATE ratio in exact ppm:
    * `(Σc²·ndv − n²)·10⁶ DIV n²`. Run against ANALYZE-style stats
    * before trusting a join strategy on a 100 TB fact key; 0 =
    * perfectly uniform key, large = the optimizer will under-provision
    * the join by that factor.
    *
    * Scale shape: the true pair count needs NO join — it is Σc² over
    * the per-day partial-agg rollup (one map-side-combined shuffle
    * keyed by day, a |days|-sized rollup); moments in decimal(38,0).
    */
  def q201_join_card_estimate(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    Tables.load(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).cast("long").as("c"))
      .agg(
        sum(col("c")).cast("long").as("n_orders"),
        count(lit(1)).cast("long").as("n_days"),
        max(col("c")).cast("long").as("peak_day_orders"),
        sum(expr(s"CAST(c AS $dec38) * c")).cast(dec38).as("s2"))
      .select(col("n_orders"), col("n_days"), col("peak_day_orders"),
        expr(s"CAST(((s2 * n_days - CAST(n_orders AS $dec38) * n_orders) " +
          s"* 1000000) DIV (CAST(n_orders AS $dec38) * n_orders) AS BIGINT)")
          .as("underest_ppm"))
  }

  val q201_oracle: String =
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1)
      |SELECT CAST(sum(c) AS BIGINT) AS n_orders,
      |  CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(max(c) AS BIGINT) AS peak_day_orders,
      |  CAST(((sum(CAST(c AS HUGEINT) * c) * count(*)
      |      - CAST(sum(c) AS HUGEINT) * sum(c)) * 1000000)
      |    // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT) AS underest_ppm
      |FROM d""".stripMargin

  // ---------- q207: tokenizer fertility ----------

  /** Tokenizer FERTILITY per source: BPE-ish subword tokens emitted
    * per whitespace word (`Σ bpe / Σ words` in exact ppm, plus the
    * per-doc maximum) — the standard tokenizer-fit diagnostic (a
    * fertility far above ~1.3 on English-like text means the vocab
    * fragments this source, inflating its effective token cost and
    * skewing any token-budget mixture built on it, q63/q77's unit).
    *
    * Scale shape: two native codegen expressions per row at scan
    * throughput, one source-sized rollup. No shuffles beyond the
    * final 4-row aggregate.
    */
  def q207_fertility(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(T.tokens(col("text"))).cast("long").as("n_words"),
        T.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_bpe")).cast("long").as("n_bpe"),
        max(when(col("n_words") > 0,
          expr("(n_bpe * 1000000) DIV n_words"))).as("max_doc_fertility_ppm"))
      .withColumn("fertility_ppm", expr("(n_bpe * 1000000) DIV n_words"))
      .orderBy("source")

  val q207_oracle: String = {
    val words = s"CAST(len(${T.tokensSql("text")}) AS BIGINT)"
    val bpe = s"CAST(${T.bpeTokenCountSql("text")} AS BIGINT)"
    s"""WITH d AS (
       |  SELECT source, $words AS n_words, $bpe AS n_bpe FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
       |  max(CASE WHEN n_words > 0
       |    THEN (n_bpe * 1000000) // n_words END) AS max_doc_fertility_ppm,
       |  CAST((sum(n_bpe) * 1000000) // sum(n_words) AS BIGINT)
       |    AS fertility_ppm
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q208: n-gram compressibility screen ----------

  /** Per-source COMPRESSIBILITY screen via 4-gram repetition — the
    * log-free stand-in for the Gopher/CCNet "compression ratio"
    * quality rule (highly compressible ⇔ repetitive ⇔ low distinct-
    * to-total n-gram ratio): per document, distinct word-4-grams over
    * total word-4-grams in exact ppm; per source, the integer mean of
    * the per-doc ratios plus the share of documents under the ½
    * repetition threshold. The 4-gram sibling of q52's token-level
    * repetition (phrases, not words, catch boilerplate loops).
    *
    * Scale shape: the per-doc ratio is computed INSIDE the row
    * (array exprs — no explode, no shuffle); one source-sized rollup.
    */
  def q208_compressibility(spark: SparkSession, dir: String): DataFrame = {
    val tk = T.tokens(col("text"))
    // docs with < 4 words have zero 4-grams — filter BEFORE the
    // transform (Spark's sequence(1, 0) DESCENDS rather than being
    // empty, so the guard is load-bearing, not cosmetic)
    val grams = expr(
      "transform(sequence(1, size(tk) - 3), i -> concat_ws(' ', slice(tk, i, 4)))")
    Tables.load(spark, dir, "documents")
      .select(col("source"), tk.as("tk"))
      .filter(size(col("tk")) >= 4)
      .select(col("source"), grams.as("g"))
      .select(col("source"),
        expr("(size(array_distinct(g)) * 1000000) DIV size(g)")
          .as("ratio_ppm"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        expr("CAST(sum(ratio_ppm) DIV count(*) AS BIGINT)")
          .as("mean_ratio_ppm"),
        count_if(col("ratio_ppm") < 500000).cast("long").as("n_repetitive"))
      .orderBy("source")
  }

  val q208_oracle: String = {
    val toks = T.tokensSql("text")
    s"""WITH d AS (
       |  SELECT source, $toks AS tk FROM documents),
       |g AS (
       |  SELECT source,
       |    [array_to_string(tk[i:i+3], ' ')
       |     for i in range(1, greatest(len(tk) - 3, 0) + 1)] AS g
       |  FROM d),
       |r AS (
       |  SELECT source,
       |    CAST((len(list_distinct(g)) * 1000000) // len(g) AS BIGINT)
       |      AS ratio_ppm
       |  FROM g WHERE len(g) > 0)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS mean_ratio_ppm,
       |  CAST(count(*) FILTER (WHERE ratio_ppm < 500000) AS BIGINT)
       |    AS n_repetitive
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q210: length-quality confound check ----------

  /** Per-source Pearson correlation between document LENGTH and the
    * q21 quality score — the confound audit run before any
    * quality-thresholded curation (if quality ∝ length, a "quality"
    * filter silently becomes a length filter and reshapes the
    * corpus). Moments (n, Σx, Σy, Σx², Σy², Σxy) are EXACT
    * decimal(38,0) in one hash pass; only the final r (which needs a
    * square root — irrational, so no integer form exists) drops to
    * doubles, with the operation order pinned identically in both
    * engines: identical exact moments in, identical IEEE doubles out.
    *
    * Scale shape: one narrow scan + one source-sized moment rollup;
    * nothing else.
    */
  def q210_length_quality_corr(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars").cast("long").as("x"),
        floor(graft.functions.TextFunctions.qualityScore(col("text")) * 1000000L)
          .cast("long").as("y"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(expr(s"CAST(x AS $dec38)")).as("sx"),
        sum(expr(s"CAST(y AS $dec38)")).as("sy"),
        sum(expr(s"CAST(x AS $dec38) * x")).as("sxx"),
        sum(expr(s"CAST(y AS $dec38) * y")).as("syy"),
        sum(expr(s"CAST(x AS $dec38) * y")).as("sxy"))
      .select(col("source"), col("n").as("n_docs"),
        expr("CAST(n * sxy - sx * sy AS DOUBLE) " +
          "/ sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) " +
          "/ sqrt(CAST(n * syy - sy * sy AS DOUBLE))").as("r"))
      .orderBy("source")
  }

  val q210_oracle: String = {
    val q = graft.functions.TextFunctions.qualityScoreSql("text")
    s"""WITH d AS (
       |  SELECT source, CAST(n_chars AS BIGINT) AS x,
       |    CAST(floor(($q) * 1000000) AS BIGINT) AS y
       |  FROM documents),
       |m AS (
       |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx,
       |    sum(CAST(y AS HUGEINT) * y) AS syy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM d GROUP BY source)
       |SELECT source, CAST(n AS BIGINT) AS n_docs,
       |  CAST(n * sxy - sx * sy AS DOUBLE)
       |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       |    / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS r
       |FROM m ORDER BY source""".stripMargin
  }

  // ---------- q211: inter-arrival gap percentiles ----------

  /** Per-event-type inter-arrival time percentiles: the gap between a
    * user's consecutive events of the same type, p50/p90 as EXACT
    * order statistics — the cadence profile behind session-timeout
    * and rate-limit thresholds (q18/q189's 30-minute gap is an input
    * someone chose; this measures what the data says it should be).
    *
    * Scale shape: the lag runs in a (user, type)-keyed window (high-
    * cardinality key — bounded per-user sequences); percentiles read
    * off the DISTINCT-gap axis ([[ValueAxis]] — gap seconds are
    * domain-bounded by the retention window, never corpus-sized).
    */
  def q211_interarrival(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("esec"), col("event_id"))
    val gaps = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").cast("long").as("esec"))
      .withColumn("gap_s", col("esec") - lag(col("esec"), 1).over(w))
      .filter(col("gap_s").isNotNull)
      .select(col("event_type"), col("gap_s"))
    ValueAxis.axis(gaps, Seq("event_type"), "gap_s")
      .groupBy("event_type")
      .agg(max(col("n")).as("n_gaps"),
        ValueAxis.valueAtRank("gap_s", expr("(n + 1) DIV 2")).as("p50_gap_s"),
        ValueAxis.valueAtRank("gap_s", expr("(9 * n + 9) DIV 10")).as("p90_gap_s"))
      .orderBy("event_type")
  }

  val q211_oracle: String =
    """WITH g AS (
      |  SELECT event_type,
      |    esec - lag(esec) OVER (PARTITION BY user_id, event_type
      |      ORDER BY esec, event_id) AS gap_s
      |  FROM (SELECT user_id, event_type, event_id,
      |          CAST(floor(epoch(ts)) AS BIGINT) AS esec FROM events)),
      |r AS (
      |  SELECT event_type, gap_s,
      |    row_number() OVER (PARTITION BY event_type ORDER BY gap_s) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM g WHERE gap_s IS NOT NULL)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
      |  max(CASE WHEN rk = (n + 1) // 2 THEN gap_s END) AS p50_gap_s,
      |  max(CASE WHEN rk = (9 * n + 9) // 10 THEN gap_s END) AS p90_gap_s
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_hapax" -> (q196_hapax _),
    "q197_tail_ratio" -> (q197_tail_ratio _),
    "q198_simpson_diversity" -> (q198_simpson_diversity _),
    "q199_fano" -> (q199_fano _),
    "q200_cluster_sizes" -> (q200_cluster_sizes _),
    "q201_join_card_estimate" -> (q201_join_card_estimate _),
    "q207_fertility" -> (q207_fertility _),
    "q208_compressibility" -> (q208_compressibility _),
    "q210_length_quality_corr" -> (q210_length_quality_corr _),
    "q211_interarrival" -> (q211_interarrival _))

  val oracles: Map[String, String] = Map(
    "q196_hapax" -> q196_oracle,
    "q197_tail_ratio" -> q197_oracle,
    "q198_simpson_diversity" -> q198_oracle,
    "q199_fano" -> q199_oracle,
    "q200_cluster_sizes" -> q200_oracle,
    "q201_join_card_estimate" -> q201_oracle,
    "q207_fertility" -> q207_oracle,
    "q208_compressibility" -> q208_oracle,
    "q210_length_quality_corr" -> q210_oracle,
    "q211_interarrival" -> q211_oracle)
}
