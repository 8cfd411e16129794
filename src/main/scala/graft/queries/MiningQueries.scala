package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.io.Artifacts
import graft.operators.MisraGries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-8 mining operators: probabilistic record linkage, sketch-based
  * heavy hitters with exact recount, per-group OLS on exact moments,
  * and theta-sketch set algebra across sources.
  */
object MiningQueries extends graft.QueryFamily {

  private val dec18 = DecimalType(18, 2)

  // ---------- q116: probabilistic record linkage (Fellegi–Sunter) ----------

  /** Entity resolution over the parts catalog in the Fellegi–Sunter
    * shape (Fellegi & Sunter 1969): BLOCK on cheap agreement keys so
    * candidate generation is an equi-join (never N²), then score each
    * candidate pair with integer log-odds-style agreement weights and
    * classify by threshold.
    *
    * Blocking key = (name noun, brand, size quintile): three
    * independent attributes, so block size is |table| / (nouns ·
    * brands · buckets) and the within-block pair loop stays bounded.
    * At larger corpora the standard move is additional blocking
    * attributes (finer keys, multiple passes unioned) — the knob is
    * the key tuple, not the algorithm. The join is a shuffle
    * hash-join on the composite key; AQE splits any skewed block.
    *
    * TWO blocking passes are unioned: the base `size DIV 5` grid and
    * the 2-shifted `(size+2) DIV 5` grid. Any two sizes within the
    * ±2 agreement window share a block in at least one grid — a base
    * boundary at 5k is straddled only from s ∈ {5k−2, 5k−1}, and
    * both of those land with s+2 in the shifted block k — so the
    * size-agreement recall loss of single-pass blocking is ZERO.
    * Each pass stays a bounded equi-join; the union is candidate-level
    * (same pair caught by both grids dedups before output).
    *
    * Weights are integers (no floats to drift cross-engine):
    * adjective +40/−10, type +30/−20, |Δsize| ≤ 2 +20/−10,
    * |Δprice| ≤ 5.00 +10/−30 (price compared in DECIMAL(18,2), the
    * q10 exactness recipe). Match ⟺ score ≥ 60 — at least two strong
    * agreements or one strong plus both numeric agreements.
    */
  def q116_record_linkage(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part").select(
      col("p_partkey").as("key"),
      split(col("p_name"), " ").getItem(0).as("adj"),
      split(col("p_name"), " ").getItem(1).as("noun"),
      col("p_brand").as("brand"),
      col("p_type").as("ptype"),
      col("p_size").as("size"),
      col("p_retailprice").cast(dec18).as("price"))
    val a = p.columns.foldLeft(p)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val b = p.columns.foldLeft(p)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    def pass(block: org.apache.spark.sql.Column): DataFrame =
      a.join(b, block && col("a_key") < col("b_key"))
        .withColumn("score", linkageScore)
        .filter(col("score") >= 60)
        .select(col("a_key"), col("b_key"), col("score"))
    // score is a pure function of the pair, so distinct on the output
    // triple dedups pairs both grids caught
    pass(linkageBlocking).union(pass(linkageBlockingShifted))
      .distinct()
      .orderBy("a_key", "b_key")
  }

  /** The BASE blocking predicate, factored so MiningOpsSpec can drive
    * the classic Fellegi–Sunter failure mode of any single pass: a
    * TRUE match whose size quintile straddles a block boundary (sizes
    * 4 vs 6 agree within ±2 but block into quintiles 0 vs 1) is never
    * generated by this grid alone. The standard recovery — a second
    * pass on the 2-shifted key, unioned — is what
    * [[linkageBlockingShifted]] ships; together the two grids generate
    * EVERY pair agreeing on the categorical keys with |Δsize| ≤ 2 —
    * exactly the scoring window, so no size-agreeing true match is
    * dropped. (Pairs with |Δsize| of 3–4 can still escape both grids,
    * e.g. sizes 2 vs 5; they score < 60 under the shipped weights, so
    * coverage beyond ±2 is not needed — but anyone WIDENING the size
    * window must also widen the grid family.)
    *
    * adj and ptype ride the blocking key because the THRESHOLD makes
    * them lossless: a pair disagreeing on adj caps at
    * −10+30+20+10 = 50 < 60, and one disagreeing on ptype at
    * 40−20+20+10 = 50 < 60 — no emitted match can disagree on either,
    * so the extra equality predicates change candidate COUNT only,
    * never the output. This is what keeps block sizes bounded as the
    * table grows: with fixed-cardinality keys alone, per-block rows
    * grow ∝ n and the pair loop ∝ n² (measured 13 s at the 100×
    * replica; sub-second with the full key). size and price must NOT
    * block — disagreeing pairs still reach 70 and 60 respectively.
    */
  private[queries] def linkageBlocking: org.apache.spark.sql.Column =
    col("a_noun") === col("b_noun") &&
      col("a_brand") === col("b_brand") &&
      col("a_adj") === col("b_adj") &&
      col("a_ptype") === col("b_ptype") &&
      expr("a_size DIV 5") === expr("b_size DIV 5")

  /** The second blocking pass: same categorical keys, size grid
    * shifted by 2 — its boundaries sit at 5k+3, interleaving the base
    * grid's at 5k, so a ±2 size window can't straddle both. Still an
    * equality tuple, so candidate generation stays an equi-join with
    * the same per-block bound.
    */
  private[queries] def linkageBlockingShifted: org.apache.spark.sql.Column =
    col("a_noun") === col("b_noun") &&
      col("a_brand") === col("b_brand") &&
      col("a_adj") === col("b_adj") &&
      col("a_ptype") === col("b_ptype") &&
      expr("(a_size + 2) DIV 5") === expr("(b_size + 2) DIV 5")

  /** The agreement-weight sum over a candidate pair (a_ / b_ columns),
    * factored so MiningOpsSpec can drive every weight branch on
    * fixtures — the corpus only exercises the combinations it happens
    * to contain.
    */
  private[queries] def linkageScore: org.apache.spark.sql.Column =
    when(col("a_adj") === col("b_adj"), 40).otherwise(-10) +
      when(col("a_ptype") === col("b_ptype"), 30).otherwise(-20) +
      when(abs(col("a_size") - col("b_size")) <= 2, 20).otherwise(-10) +
      when(abs(col("a_price") - col("b_price")) <= lit("5.00").cast(dec18), 10)
        .otherwise(-30)

  val q116_oracle: String = {
    val score =
      """CASE WHEN a.adj = b.adj THEN 40 ELSE -10 END +
        |    CASE WHEN a.ptype = b.ptype THEN 30 ELSE -20 END +
        |    CASE WHEN abs(a.size - b.size) <= 2 THEN 20 ELSE -10 END +
        |    CASE WHEN abs(a.price - b.price) <= CAST('5.00' AS DECIMAL(18,2))
        |         THEN 10 ELSE -30 END""".stripMargin
    val keys =
      """a.noun = b.noun AND a.brand = b.brand
        |   AND a.adj = b.adj AND a.ptype = b.ptype""".stripMargin
    s"""WITH p AS (
       |  SELECT p_partkey AS key,
       |    string_split(p_name, ' ')[1] AS adj,
       |    string_split(p_name, ' ')[2] AS noun,
       |    p_brand AS brand, p_type AS ptype, p_size AS size,
       |    CAST(p_retailprice AS DECIMAL(18,2)) AS price
       |  FROM part),
       |cand AS (
       |  SELECT a.key AS a_key, b.key AS b_key, $score AS score
       |  FROM p a JOIN p b
       |    ON $keys
       |   AND a.size // 5 = b.size // 5 AND a.key < b.key
       |  UNION
       |  SELECT a.key AS a_key, b.key AS b_key, $score AS score
       |  FROM p a JOIN p b
       |    ON $keys
       |   AND (a.size + 2) // 5 = (b.size + 2) // 5 AND a.key < b.key)
       |SELECT a_key, b_key, score FROM cand
       |WHERE score >= 60 ORDER BY a_key, b_key""".stripMargin
  }

  // ---------- q118: heavy hitters = MG candidates + exact recount ----------

  /** φ-heavy hitters (tokens with frequency > N/64) computed the way
    * a 100 TB corpus has to: a one-pass Misra–Gries(k=200) summary per
    * partition ([[graft.operators.MisraGries]]) yields ≤ k·partitions
    * candidate tokens — a bounded driver collect at ANY corpus size,
    * because k ≥ 1/φ guarantees the union of per-partition survivors
    * is a superset of every global heavy hitter (pigeonhole over the
    * mergeable-summaries bound). A second pass recounts ONLY the
    * candidates exactly — a LEFT SEMI join against the BROADCAST
    * candidate table, so the candidate set rides data, never the
    * query plan (an isin() literal list would inline k·partitions
    * strings into the plan: ~200k literals at a cluster's 1k tasks,
    * bloating analysis and serialization) — so the output is EXACT,
    * which is why a sketch-built operator can still hash-match the
    * DuckDB oracle, the same candidates-then-exact-verify shape as
    * q25/q69.
    *
    * The threshold compare is `freq·64 > N` in integers — no division,
    * no rounding-mode trap. ppm = freq·10⁶ DIV N rides the q114
    * integer-ratio recipe.
    */
  def q118_heavy_hitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(T.tokens(col("text"))).as("token"))
    // pass 1 (one scan): per-partition MG survivors + the partition's
    // token count, so N needs no second corpus pass
    val pass1: Array[(Seq[String], Long)] =
      toks.as[String].mapPartitions { it =>
        var n = 0L
        val counted = it.map { t => n += 1; t }
        val cands = MisraGries.candidates(counted, 200).toSeq
        Iterator.single((cands, n))
      }.collect()
    val cand = pass1.iterator.flatMap(_._1).toSeq.distinct
    val nTotal = pass1.iterator.map(_._2).sum
    // pass 2: exact recount of candidates only — the candidate set is
    // a broadcast DataFrame (left-semi), NOT an isin literal list
    val candDf = broadcast(cand.toDF("token"))
    toks.join(candDf, Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * 64 > nTotal)
      .select(col("token"), col("freq"),
        expr(s"(freq * 1000000) DIV ${nTotal}L").as("ppm"))
      .orderBy(desc("freq"), col("token"))
  }

  val q118_oracle: String = {
    val toks = T.tokensSql("text")
    s"""WITH t AS (
       |  SELECT unnest($toks) AS token FROM documents),
       |n AS (SELECT count(*) AS n_total FROM t)
       |SELECT token, count(*) AS freq,
       |  CAST(count(*) * 1000000 // n.n_total AS BIGINT) AS ppm
       |FROM t, n
       |GROUP BY token, n.n_total
       |HAVING count(*) * 64 > n.n_total
       |ORDER BY freq DESC, token""".stripMargin
  }

  // ---------- q209: INCREMENTAL heavy hitters (mergeable MG state) ----------

  /** Committed frequency state for q209: the era-A (doc_id % 4 ≠ 3)
    * EXACT (token, count) vocabulary table + the era token count,
    * persisted once per (session, dir) — the q186/BaseCcLabels
    * lifecycle applied to frequency state, vocab-sized like
    * TextQueries' OrdIndex. Exact counts (not just MG survivors) are
    * what make the refresh O(batch + vocab): the recount never has to
    * rescan era A. */
  private def topkState(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, "mgstate", dir) {
      val vocab = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 4 =!= 3)
        .select(explode(T.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).cast("long").as("cnt"))
      val nA = vocab.agg(coalesce(sum(col("cnt")), lit(0L)))
        .head.getLong(0)
      vocab.withColumn("n_era", lit(nA))
    }

  /** Builds q209's committed state eagerly (Bench warmup hook — the
    * prior-state contract, as with q186). */
  def warmTopkState(spark: SparkSession, dir: String): Unit = {
    topkState(spark, dir); ()
  }

  /** INCREMENTAL φ-heavy hitters — q118's operator under the
    * incremental-≡-rescan contract (the frequency member of the
    * q107/q110/q113/q186 family). The committed state is era A's
    * EXACT (token, count) vocabulary + N_A; the refresh is
    * O(batch + vocab) — era A is NEVER rescanned:
    *
    *  1. the arriving batch (doc_id % 4 = 3) runs ONE Misra–Gries
    *     pass (candidates + N_B in the same scan);
    *  2. candidates = exact era-A heavies (cnt·64 > N_A, ≤ 64 tokens
    *     read off the committed vocab) ∪ batch MG survivors
    *     (≤ k·partitions). This is a superset of every global heavy
    *     hitter by the mergeable-summaries pigeonhole (Agarwal et al.
    *     PODS 2012): f > (N_A+N_B)/64 forces f_A > N_A/64 or
    *     f_B > N_B/64;
    *  3. exact frequency = committed era-A count (a vocab-sized
    *     merge join, candidate-filtered) + a batch-only recount
    *     (candidate-semi-joined batch scan).
    *
    * Output is EXACT and identical to q118's full recompute, which is
    * precisely what the oracle (q118's, verbatim) checks. The bench
    * row's cost is independent of era-A size: one batch scan + one
    * batch recount + a vocab-sized join.
    */
  def q209_incremental_topk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val state = topkState(spark, dir)
    val nA = state.agg(coalesce(max(col("n_era")), lit(0L))).head.getLong(0)
    val toksB = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 4 === 3)
      .select(explode(T.tokens(col("text"))).as("token"))
      .transform(graft.Lineage.cut) // batch stream: MG pass + recount both read it
    val pass1B = toksB.as[String].mapPartitions { it =>
      var n = 0L
      val counted = it.map { t => n += 1; t }
      val cands = MisraGries.candidates(counted, 200).toSeq
      Iterator.single((cands, n))
    }.collect()
    val nTotal = nA + pass1B.iterator.map(_._2).sum
    val candB = pass1B.iterator.flatMap(_._1).toSeq.distinct.toDF("token")
    val candA = state.filter(col("cnt") * 64 > nA).select("token")
    val cand = broadcast(candA.union(candB).distinct())
    val batchCnt = toksB.join(cand, Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).cast("long").as("c_b"))
    cand
      .join(state.select(col("token"), col("cnt").as("c_a")), Seq("token"), "left")
      .join(batchCnt, Seq("token"), "left")
      .select(col("token"),
        (coalesce(col("c_a"), lit(0L)) + coalesce(col("c_b"), lit(0L))).as("freq"))
      .filter(col("freq") * 64 > nTotal)
      .select(col("token"), col("freq"),
        expr(s"(freq * 1000000) DIV ${nTotal}L").as("ppm"))
      .orderBy(desc("freq"), col("token"))
  }

  // ---------- q119: per-group OLS on exact moments ----------

  /** Per-group least-squares fit of extendedprice on quantity — the
    * grouped-regression operator — computed from five DECIMAL-exact
    * moments (n, Σx, Σy, Σxy, Σx²) in ONE hash-aggregate pass (the
    * textbook closed form; moments are algebraic, so map-side partial
    * aggregation applies and the shuffle is |groups| rows per task).
    *
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²), intercept =
    * (Σy·Σx² − Σx·Σxy) / same. Both are emitted as ·10⁶-scaled
    * integer quotients of exact decimals (q114's DIV recipe) — no
    * float division, so the result is bit-identical across engines
    * and partition orders. Spark DIV and DuckDB `//` both truncate
    * toward zero, which keeps negative intercepts exact too.
    */
  def q119_regression(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(dec18)
    val y = col("l_extendedprice").cast(dec18)
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      .withColumn("det",
        expr("CAST(n AS DECIMAL(20,0)) * sxx - sx * sx"))
      .withColumn("slope_micro", expr(
        "CAST(((CAST(n AS DECIMAL(20,0)) * sxy - sx * sy) * 1000000) DIV det AS BIGINT)"))
      .withColumn("intercept_micro", expr(
        "CAST(((sy * sxx - sx * sxy) * 1000000) DIV det AS BIGINT)"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        col("slope_micro"), col("intercept_micro"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q119_oracle: String =
    """WITH m AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS HUGEINT) AS sx_c,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS sy_c,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000 AS HUGEINT) AS sxy_c,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) * 10000 AS HUGEINT) AS sxx_c
      |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
      |  CAST((n * sxy_c - sx_c * sy_c) * 1000000 // (n * sxx_c - sx_c * sx_c) AS BIGINT) AS slope_micro,
      |  CAST((sy_c * sxx_c - sx_c * sxy_c) * 1000000 // ((n * sxx_c - sx_c * sx_c) * 100) AS BIGINT) AS intercept_micro
      |FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------- q120: theta-sketch set algebra across sources ----------

  /** Distinct-token set RELATIONSHIPS between source pairs via theta
    * sketches (Dasgupta et al. 2016) — the sketch family that, unlike
    * HLL (q110), supports INTERSECTION and DIFFERENCE, not just
    * union. One pass builds a per-source sketch (tiny: ≤ 4096
    * retained hashes each, regardless of vocabulary); the pair join
    * is sources × sources — sketch-sized, never corpus-sized. The
    * sketch build is deterministic (fixed Murmur seed, no sampling),
    * so rows are stable run to run; cross-engine float parity is not
    * (DuckDB has no theta sketch), hence rows-only with
    * MiningOpsSpec bounding estimate error against exact set algebra
    * (exact below sketch capacity, ≤5 % union error above it).
    */
  def q120_sketch_overlap(spark: SparkSession, dir: String): DataFrame = {
    val sk = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(T.tokens(col("text"))).as("token"))
      .groupBy("source")
      .agg(theta_sketch_agg(col("token")).as("sk"))
    val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
    a.join(b, col("source_a") < col("source_b"))
      .select(
        col("source_a"), col("source_b"),
        theta_sketch_estimate(col("sk_a")).as("est_a"),
        theta_sketch_estimate(col("sk_b")).as("est_b"),
        theta_sketch_estimate(theta_union(col("sk_a"), col("sk_b")))
          .as("est_union"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .as("est_intersect"),
        theta_sketch_estimate(theta_difference(col("sk_a"), col("sk_b")))
          .as("est_only_a"))
      .orderBy("source_a", "source_b")
  }

  // ---------- q136: Count-Min sketch frequency estimation ----------

  /** CMS geometry: depth (independent hash rows) × width (buckets per
    * row). Overestimate bound: est − true ≤ 2·N/width with probability
    * 1 − 2^−depth per query (Cormode & Muthukrishnan 2005).
    */
  val cmsDepth = 4
  val cmsWidth = 256L
  val cmsProbeK = 20

  /** Count-Min sketch over the corpus token stream — the
    * fixed-memory frequency oracle (Cormode–Muthukrishnan 2005) that
    * completes the suite's sketch family (HLL q110 counts distincts,
    * KLL q113 ranks, theta q120 intersects, Misra–Gries q118 finds the
    * heavy set; CMS answers point frequency for ANY key in O(depth)).
    * Each row r hashes tokens into [[cmsWidth]] buckets via salted
    * md5; a bucket holds the exact SUM of counts colliding into it,
    * so the estimate min_r cms[r][h_r(w)] is a deterministic integer
    * — which makes this sketch operator fully ORACLE-CHECKABLE: the
    * probe set (the [[cmsProbeK]] most frequent tokens by (count
    * desc, token)) is estimated and compared with its true counts,
    * overestimate emitted per token.
    *
    * Scale shape: ONE corpus pass builds vocab counts (partial-agg
    * shuffle); all [[cmsDepth]] sketch rows derive from the
    * vocab-sized count table (never a second corpus pass — CMS is
    * linear, so summing per-token counts into buckets equals hashing
    * the raw stream); the probe join runs 20×depth rows against the
    * depth·width-sized sketch. Sketch state is mergeable by
    * element-wise add, the property that makes CMS the streaming/
    * cross-partition frequency structure.
    */
  def q136_countmin(spark: SparkSession, dir: String): DataFrame = {
    def bucket(w: org.apache.spark.sql.Column, r: Int) =
      conv(substring(md5(concat(lit(s"cm$r|"), w)), 1, 4), 16, 10)
        .cast("long") % cmsWidth
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(T.tokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("long").as("c"))
      .persist()
    val sketch = (0 until cmsDepth)
      .map(r => vocab.groupBy(bucket(col("w"), r).as("b"))
        .agg(sum(col("c")).cast("long").as("s"))
        .withColumn("r", lit(r)))
      .reduce(_ unionByName _)
    val probes = vocab
      .orderBy(col("c").desc, col("w").asc).limit(cmsProbeK)
      .select(col("w"), col("c").as("c_true"))
    val probeRows = probes
      .withColumn("r", explode(array((0 until cmsDepth).map(lit): _*)))
      // same salt bytes as bucket(w, r), built from the exploded row id
      .withColumn("b",
        conv(substring(md5(concat(lit("cm"), col("r").cast("string"),
          lit("|"), col("w"))), 1, 4), 16, 10).cast("long") % cmsWidth)
    try
      probeRows.join(sketch, Seq("r", "b"))
        .groupBy("w", "c_true")
        .agg(min(col("s")).as("est"))
        .withColumn("overestimate", col("est") - col("c_true"))
        .orderBy(col("c_true").desc, col("w").asc)
        .transform(graft.Lineage.cut) // eager: survives the unpersist
    finally vocab.unpersist()
  }

  val q136_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    def bucketSql(r: Int) =
      s"CAST(concat('0x', substring(md5(concat('cm$r|', w)), 1, 4)) AS BIGINT) % $cmsWidth"
    val rows = (0 until cmsDepth)
      .map(r => s"SELECT $r AS r, ${bucketSql(r)} AS b, CAST(sum(c) AS BIGINT) AS s FROM vocab GROUP BY 2")
      .mkString("\n  UNION ALL ")
    val probeBuckets = (0 until cmsDepth)
      .map(r => s"SELECT w, c_true, $r AS r, ${bucketSql(r)} AS b FROM probes")
      .mkString("\n  UNION ALL ")
    s"""WITH vocab AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest($toks) AS w FROM documents) GROUP BY w),
       |sketch AS (
       |  $rows),
       |probes AS (
       |  SELECT w, c AS c_true FROM vocab
       |  ORDER BY c DESC, w ASC LIMIT $cmsProbeK),
       |pr AS (
       |  $probeBuckets)
       |SELECT w, c_true, min(s) AS est, min(s) - c_true AS overestimate
       |FROM pr JOIN sketch USING (r, b)
       |GROUP BY w, c_true
       |ORDER BY c_true DESC, w ASC""".stripMargin
  }

  // ---------- q149: sorted-neighborhood record linkage ----------

  /** Sliding-window width (each record pairs with the next
    * `snWindow − 1` records in sort order). */
  val snWindow = 3

  /** Sorted-neighborhood blocking (Hernández–Stolfo 1995) for record
    * linkage — the RECALL complement of q116's equi-join blocking:
    * records sort by a similarity-preserving key (brand-partitioned,
    * then noun, adj, size, key) and each record pairs only with its
    * window of following neighbors, scored by the SAME Fellegi–Sunter
    * agreement weights as q116. Because the sort places size 4 next
    * to size 6, this pass ALSO emits the quintile-boundary-straddling
    * true matches any single-grid blocking key drops (q116 now closes
    * that window itself with its shifted second pass; SN remains the
    * complement for keys with no usable grid at all) — the standard
    * production setup runs both families and unions.
    *
    * Scale shape: ZERO joins — neighbors come from `lead()` over the
    * brand-partitioned sort window, so the pair stream is exactly
    * (window−1)·n rows no matter how similar the records are (the SN
    * guarantee: candidate count is linear by construction, immune to
    * the hot-block blowup equi-join blocking risks); one sort
    * exchange, one narrow scoring projection.
    */
  def q149_sorted_neighborhood(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part").select(
      col("p_partkey").as("key"),
      split(col("p_name"), " ").getItem(0).as("adj"),
      split(col("p_name"), " ").getItem(1).as("noun"),
      col("p_brand").as("brand"),
      col("p_type").as("ptype"),
      col("p_size").as("size"),
      col("p_retailprice").cast(dec18).as("price"))
    val w = Window.partitionBy("brand")
      .orderBy(col("noun"), col("adj"), col("size"), col("key"))
    val attrs = Seq("key", "adj", "noun", "ptype", "size", "price")
    val withLeads = (1 until snWindow).foldLeft(p) { (d, dist) =>
      attrs.foldLeft(d)((dd, a) =>
        dd.withColumn(s"n${dist}_$a", lead(col(a), dist).over(w)))
    }
    val perDist = (1 until snWindow).map { dist =>
      val renamed = attrs.foldLeft(withLeads) { (d, a) =>
        d.withColumn(s"a_$a", col(a)).withColumn(s"b_$a", col(s"n${dist}_$a"))
      }
      renamed
        .filter(col(s"n${dist}_key").isNotNull)
        .withColumn("dist", lit(dist))
        .withColumn("score", linkageScore)
        .select(
          least(col("a_key"), col("b_key")).as("a_key"),
          greatest(col("a_key"), col("b_key")).as("b_key"),
          col("dist"), col("score"))
    }
    perDist.reduce(_ unionByName _)
      .filter(col("score") >= 60)
      .groupBy("a_key", "b_key")
      .agg(min(col("dist")).as("dist"), max(col("score")).as("score"))
      .orderBy("a_key", "b_key")
  }

  val q149_oracle: String = {
    val leadCols = (dist: Int) =>
      Seq("key", "adj", "ptype", "size", "price")
        .map(a => s"lead($a, $dist) OVER w AS n${dist}_$a").mkString(",\n    ")
    val scoreSql = (dist: Int) =>
      s"""CASE WHEN adj = n${dist}_adj THEN 40 ELSE -10 END +
         |    CASE WHEN ptype = n${dist}_ptype THEN 30 ELSE -20 END +
         |    CASE WHEN abs(size - n${dist}_size) <= 2 THEN 20 ELSE -10 END +
         |    CASE WHEN abs(price - n${dist}_price) <= CAST('5.00' AS DECIMAL(18,2))
         |         THEN 10 ELSE -30 END""".stripMargin
    s"""WITH s AS (
       |  SELECT *,
       |    ${leadCols(1)},
       |    ${leadCols(2)}
       |  FROM (
       |    SELECT p_partkey AS key,
       |      string_split(p_name, ' ')[1] AS adj,
       |      string_split(p_name, ' ')[2] AS noun,
       |      p_brand AS brand, p_type AS ptype, p_size AS size,
       |      CAST(p_retailprice AS DECIMAL(18,2)) AS price
       |    FROM part)
       |  WINDOW w AS (PARTITION BY brand ORDER BY noun, adj, size, key)),
       |pairs AS (
       |  ${(1 until snWindow).map(dist =>
           s"""SELECT least(key, n${dist}_key) AS a_key,
              |  greatest(key, n${dist}_key) AS b_key, $dist AS dist,
              |  ${scoreSql(dist)} AS score
              |  FROM s WHERE n${dist}_key IS NOT NULL""".stripMargin)
          .mkString("\n  UNION ALL\n  ")})
       |SELECT a_key, b_key, min(dist) AS dist, max(score) AS score
       |FROM pairs WHERE score >= 60
       |GROUP BY a_key, b_key ORDER BY a_key, b_key""".stripMargin
  }

  // ---------- q144: market-basket association rules ----------

  /** Minimum pair co-occurrence to call a rule (absolute floor). */
  val basketMinPair = 2L

  /** Market-basket association-rule mining over order lineitems
    * (Agrawal–Srikant's support/confidence frame, pairwise): part
    * pairs co-ordered in the same order, with exact-integer
    * support/confidence in ppm and lift in micro-units (the q114 DIV
    * recipe — log-free, order-independent, bit-identical cross-
    * engine). Both rule directions ship as conf_ab/conf_ba on one
    * unordered pair row.
    *
    * Scale shape: the pair generator is a self-join keyed by ORDER —
    * fan-out is `basket_size²` per order, never |parts|² (TPC-H
    * baskets are ~4 items → ~6 pairs/order); pair counts partial-agg
    * on (pa, pb); per-item order counts are a dim-sized table that
    * broadcasts; the min-support filter bounds the rule table. The
    * classic a-priori second level, as one declarative plan.
    */
  def q144_basket(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    // materialized once (Lineage.cut): the distinct basket table feeds
    // the self-join (twice), the per-item counts AND the order total —
    // column pruning specializes each copy, so unmaterialized the
    // lineitem scan + distinct shuffle ran three times (§2.4; the cut
    // table is NARROWER than lineitem — two ints — so this shrinks
    // data, unlike the r18 bigram-store counterexample)
    val items = graft.Lineage.cut(Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct())
    val itemN = items.groupBy("pk").agg(count(lit(1)).cast("long").as("n_item"))
    val totals = items.agg(count_distinct(col("ok")).cast("long").as("n_orders"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).cast("long").as("n_pair"))
      .filter(col("n_pair") >= basketMinPair)
    pairs
      // itemN is catalog-sized (parts ∝ SF): un-hinted — the planner
      // broadcasts the SMALLER side (usually the min-support-filtered
      // rule table) from measured sizes
      .join(itemN.select(col("pk").as("pa"), col("n_item").as("n_a")), "pa")
      .join(itemN.select(col("pk").as("pb"), col("n_item").as("n_b")), "pb")
      .crossJoin(broadcast(totals))
      .select(col("pa"), col("pb"), col("n_pair"), col("n_a"), col("n_b"),
        col("n_orders"),
        expr("(n_pair * 1000000) DIV n_orders").as("support_ppm"),
        expr("(n_pair * 1000000) DIV n_a").as("conf_ab_ppm"),
        expr("(n_pair * 1000000) DIV n_b").as("conf_ba_ppm"),
        expr(s"CAST((CAST(n_pair AS $dec38) * n_orders * 1000000) DIV " +
          s"(CAST(n_a AS $dec38) * n_b) AS BIGINT)").as("lift_micro"))
      .orderBy("pa", "pb")
  }

  val q144_oracle: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
       |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item FROM items GROUP BY pk),
       |pairs AS (
       |  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS n_pair
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $basketMinPair)
       |SELECT pa, pb, n_pair, ia.n_item AS n_a, ib.n_item AS n_b, n_orders,
       |  (n_pair * 1000000) // n_orders AS support_ppm,
       |  (n_pair * 1000000) // ia.n_item AS conf_ab_ppm,
       |  (n_pair * 1000000) // ib.n_item AS conf_ba_ppm,
       |  CAST((CAST(n_pair AS HUGEINT) * n_orders * 1000000)
       |    // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT) AS lift_micro
       |FROM pairs
       |JOIN ic ia ON ia.pk = pa
       |JOIN ic ib ON ib.pk = pb
       |CROSS JOIN tot
       |ORDER BY pa, pb""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q209_incremental_topk" -> (q209_incremental_topk _),
    "q116_record_linkage" -> (q116_record_linkage _),
    "q118_heavy_hitters" -> (q118_heavy_hitters _),
    "q119_regression" -> (q119_regression _),
    "q120_sketch_overlap" -> (q120_sketch_overlap _),
    "q136_countmin" -> (q136_countmin _),
    "q144_basket" -> (q144_basket _),
    "q149_sorted_neighborhood" -> (q149_sorted_neighborhood _))

  val oracles: Map[String, String] = Map(
    "q209_incremental_topk" -> q118_oracle, // incremental ≡ rescan: same oracle verbatim
    "q116_record_linkage" -> q116_oracle,
    "q118_heavy_hitters" -> q118_oracle,
    "q119_regression" -> q119_oracle,
    "q136_countmin" -> q136_oracle,
    "q144_basket" -> q144_oracle,
    "q149_sorted_neighborhood" -> q149_oracle)
}
