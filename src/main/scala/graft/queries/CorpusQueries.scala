package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Additional corpus/statistics operators (SURVEY §2 #32–#35).
  */
object CorpusQueries extends graft.QueryFamily {

  // ---------- q32: exact per-group quantiles ----------

  /** Exact discrete quantiles per group via rank arithmetic (value at
    * row ceil(q·n)) — engine-portable, unlike each engine's built-in
    * interpolating quantile.
    *
    * Scale shape: the value at a rank is tie-order invariant, so it
    * is read off the DISTINCT-value axis
    * ([[graft.operators.ValueAxis]]) — one hash aggregation plus a
    * window bounded by the value domain, instead of a raw-row sort
    * keyed by the ~5 event types (the approximate path would be
    * approx_percentile / t-digest; this stays exact).
    */
  def q32_quantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ValueAxis
    val ax = ValueAxis.axis(
      Tables.load(spark, dir, "events").select(col("event_type"), col("value")),
      Seq("event_type"), "value")
    val qs = Seq(0.5, 0.95, 0.99)
    val exprs = qs.map(q =>
      ValueAxis.valueAtRank("value", ceil(lit(q) * col("n")))
        .as(s"p${(q * 100).toInt}"))
    ax.groupBy("event_type")
      .agg(exprs.head, exprs.tail: _*)
      .orderBy("event_type")
  }

  val q32_oracle: String = {
    val qs = Seq(0.5, 0.95, 0.99)
    val cols = qs.map(q =>
      s"max(CASE WHEN rk = ceil($q * n) THEN value END) AS p${(q * 100).toInt}")
    s"""SELECT event_type, ${cols.mkString(", ")}
       |FROM (
       |  SELECT event_type, value,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rk,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events)
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---------- q33: deterministic corpus sampling ----------

  /** Reproducible ~1/16 sample via content hashing: a row is sampled
    * iff the first hex digit of md5(salt|id) is '0'. No RNG state, no
    * seed coordination across executors or engines — the sample is a
    * pure function of the data, which is what makes corpus subsampling
    * auditable at 100 TB (and is how dataset ablations stay
    * reproducible across reruns). `sampled_chars` sums the sampled
    * documents' text lengths, pinning the output to the CONTENT the
    * sample selected (the id-hash decision alone is text-independent,
    * so without it the gate cannot distinguish two corpora sharing an
    * id space).
    */
  def q33_deterministic_sample(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .filter(substring(md5(concat(lit("sample-1|"), col("doc_id").cast("string"))), 1, 1) === "0")
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"),
        sum(length(col("text"))).as("sampled_chars"))
      .orderBy("source")

  val q33_oracle: String =
    """SELECT source, count(*) AS n_sampled, min(doc_id) AS first_doc,
      |  CAST(sum(length(text)) AS BIGINT) AS sampled_chars
      |FROM documents
      |WHERE substring(md5(concat('sample-1|', CAST(doc_id AS VARCHAR))), 1, 1) = '0'
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------- q34: text normalization ----------

  /** Canonical text normalization for dedup keys: lowercase, strip
    * non-alphanumerics (keeping spaces), collapse whitespace, trim —
    * then the content hash of the normalized form. Narrow, codegen'd.
    */
  def q34_normalize(spark: SparkSession, dir: String): DataFrame = {
    // native fused normalization ([[graft.plans.NormalizeText]] — one
    // scan instead of two regex passes, and the declarative chain was
    // evaluated twice, once under length and once under md5);
    // projected as its own column so the non-cheap expression is
    // computed once per row, then length/md5 read the column
    Tables.load(spark, dir, "documents")
      .withColumn("norm", call_function("normalize_text", col("text")))
      .select(
        col("doc_id"),
        length(col("norm")).as("n_norm_chars"),
        md5(col("norm")).as("norm_md5"))
      .orderBy("doc_id")
  }

  val q34_oracle: String =
    """SELECT doc_id,
      |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS n_norm_chars,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- q35: vocabulary / token frequencies ----------

  /** Corpus vocabulary with document frequencies: explode tokens,
    * aggregate (count, docs, first-seen doc). Partial aggregation
    * makes the shuffle carry one row per (task, token) — vocabulary
    * building is the canonical map-side-combine workload.
    */
  def q35_vocabulary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("token")

  val q35_oracle: String =
    s"""SELECT token, count(*) AS n_occurrences,
       |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
       |FROM (SELECT doc_id, unnest(${T.tokensSql("text")}) AS token FROM documents)
       |GROUP BY token ORDER BY token""".stripMargin

  // ---------- q36: mixture-weighted sampling ----------

  /** Per-source mixture weighting: each source keeps a different
    * fraction of its documents — the knob used to re-balance a training
    * mixture. Fractions are sixteenths, decided by the first hex digit
    * of a salted content hash: seedless, reproducible, and exact (no
    * float thresholds), so the mixture is auditable at any scale.
    */
  val mixtureWeights: Seq[(String, Int)] = Seq( // source -> keep k/16
    "src0" -> 8, "src1" -> 4, "src2" -> 2, "src3" -> 1)

  def q36_mixture_sample(spark: SparkSession, dir: String): DataFrame = {
    val digit = substring(md5(concat(lit("mix-1|"), col("doc_id").cast("string"))), 1, 1)
    val keep = mixtureWeights.foldLeft(lit(0)) { case (acc, (src, k)) =>
      when(col("source") === src, lit(k)).otherwise(acc)
    }
    val digitVal = (instr(lit("0123456789abcdef"), digit) - 1)
    Tables.load(spark, dir, "documents")
      .filter(digitVal < keep)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"),
        // content pin: the kept documents' total text length (the
        // id-hash keep decision alone is text-independent)
        sum(length(col("text"))).as("kept_chars"))
      .orderBy("source")
  }

  val q36_oracle: String = {
    val keepCase = mixtureWeights
      .map { case (s, k) => s"WHEN source = '$s' THEN $k" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""SELECT source, count(*) AS n_kept, min(doc_id) AS first_doc,
       |  CAST(sum(length(text)) AS BIGINT) AS kept_chars
       |FROM documents
       |WHERE (strpos('0123456789abcdef',
       |         substring(md5(concat('mix-1|', CAST(doc_id AS VARCHAR))), 1, 1)) - 1)
       |      < ($keepCase)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q37: benchmark decontamination ----------

  /** Contamination check: flag documents whose shingle set overlaps a
    * benchmark n-gram list (the eval-set leak scan every training
    * pipeline needs). The benchmark list is a broadcast-sized literal;
    * the scan is narrow — at 100 TB this runs at read throughput with
    * zero shuffle before the final count.
    */
  val benchmarkShingles: Seq[String] = Seq(
    "the fast key", "spark group query", "join a filter",
    "window big merge", "hash value window")

  def q37_contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // explode + broadcast-join instead of per-row array_intersect: the
    // filtered intersect form re-evaluates the shingle pipeline inside
    // the pushed-down predicate (measured 17 s at sf0.1); the posting
    // join scans shingles once and clean docs drop out in the join
    val bench = benchmarkShingles.toDF("s")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(call_function("shingles3", col("text"))).as("s"))
      .join(broadcast(bench), "s")
      .groupBy("doc_id", "source")
      .agg(countDistinct(col("s")).as("n_hits"))
      .orderBy("doc_id")
  }

  val q37_oracle: String = {
    import graft.functions.{HashFunctions => H}
    val sh = H.shinglesSql(T.tokensSql("text"))
    val bench = benchmarkShingles.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""SELECT doc_id, source,
       |  len(list_intersect(list_distinct(sh), $bench)) AS n_hits
       |FROM (SELECT doc_id, source, $sh AS sh FROM documents)
       |WHERE len(sh) > 0 AND len(list_intersect(list_distinct(sh), $bench)) > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---------- q38: range join ----------

  /** Irregular value bands joined to events via the binned range-join
    * operator (equi-join on quantized bins + exact predicate — no
    * nested loop; see operators.RangeJoin). The oracle is DuckDB's
    * native inequality join, an independent implementation.
    */
  val valueBands: Seq[(String, Double, Double)] = Seq(
    ("micro", 0.0, 10.0), ("small", 10.0, 50.0),
    ("mid", 50.0, 200.0), ("large", 200.0, 1000.0))

  def q38_range_join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.RangeJoin
    val bands = valueBands.toDF("band", "lo", "hi")
    val events = Tables.load(spark, dir, "events")
    RangeJoin.binned(events, col("value"), RangeJoin.Intervals(bands, "lo", "hi"), 25.0)
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("band")
  }

  val q38_oracle: String = {
    val bandRows = valueBands.map { case (n, lo, hi) => s"('$n', $lo, $hi)" }.mkString(", ")
    s"""SELECT band, count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       |FROM events e
       |JOIN (VALUES $bandRows) AS b(band, lo, hi)
       |  ON e.value >= b.lo AND e.value < b.hi
       |GROUP BY band ORDER BY band""".stripMargin
  }

  // ---------- q39: sliding (hopping) window aggregation ----------

  /** 1-hour windows sliding every 30 minutes: every event lands in
    * exactly two windows. Spark's window() handles this natively (and
    * identically under readStream); the oracle reconstructs the window
    * assignment with epoch arithmetic.
    */
  def q39_sliding_window(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n_events"))
      .orderBy("window_start", "event_type")

  val q39_oracle: String =
    """SELECT strftime(to_timestamp((CAST(floor(epoch(ts) / 1800) AS BIGINT) - i) * 1800), '%Y-%m-%d %H:%M') AS window_start,
      |  event_type, count(*) AS n_events
      |FROM events, unnest([0, 1]) AS t(i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------- q40: TF-IDF term weighting ----------

  /** Top-3 salient terms per document by a TF·(N/df) weight — the
    * rational form of TF-IDF (no logarithm: libm log differs in the
    * last ulp across engines, while tf·N/df is a ratio of exact
    * integers, bit-identical everywhere). Two aggregations (term
    * stats, per-doc scores) + one broadcast join of the df table.
    */
  def q40_tfidf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val nDocs = d.count() // driver-side scalar, one tiny job
    val terms = d
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df_ = terms.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = terms
      .join(df_, "term")  // vocab-sized df table: no hint, planner decides
      .withColumn("weight",
        col("tf").cast("double") * lit(nDocs.toDouble) / col("df").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("weight").desc, col("term").asc)
    scored
      .filter(col("doc_id") < 100)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "tf", "df", "weight")
      .orderBy("doc_id", "rk")
  }

  val q40_oracle: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(${T.tokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS weight
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, rk, term, tf, df, weight FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY weight DESC, term ASC) AS rk
       |  FROM scored WHERE doc_id < 100)
       |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------- q41: sketch-based approximate aggregates ----------

  /** HyperLogLog distinct counts + t-digest quantiles per event type —
    * the sketches any 100 TB pipeline uses instead of exact
    * distinct/sort. Sketch internals are engine-specific, so this is
    * deliberately a rows-only check (no oracleSql entry): the spec
    * asserts the approximations against exact values instead.
    */
  def q41_approx_stats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_p50"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  // ---------- q43: semi-structured JSON extraction ----------

  /** JSON-column extraction: pull a typed field out of the `props`
    * JSON string and aggregate on it — the schema-on-read path every
    * event pipeline needs. get_json_object is codegen'd; for hot
    * fields at 100 TB you'd promote them to real columns at ingest
    * (the metadata framework's add_fields covers that).
    */
  def q43_json_extract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k").cast("long")).as("sum_k"))
      .orderBy("event_type")

  val q43_oracle: String =
    """SELECT event_type,
      |  count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
      |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- q44: edit-distance fuzzy matching ----------

  /** Levenshtein verification of near-dup candidates: the character-
    * level complement of shingle Jaccard (catches transpositions and
    * small edits that n-grams punish). Candidates come from the exact
    * same inverted-index shape as q26 — edit distance only runs on
    * pairs that already share a shingle, never all pairs.
    */
  def q44_fuzzy_match(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"),
        call_function("shingles3", col("text")).as("sh"))
      .persist()
    val posting = d.select(col("doc_id"), explode(array_distinct(col("sh"))).as("s"))
    val candidates = posting.select(col("doc_id").as("a_id"), col("s"))
      .join(posting.select(col("doc_id").as("b_id"), col("s")), Seq("s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 20)
    val texts = d.select(col("doc_id"), col("text"))
    candidates
      .join(texts.withColumnRenamed("doc_id", "a_id").withColumnRenamed("text", "a_text"), "a_id")
      .join(texts.withColumnRenamed("doc_id", "b_id").withColumnRenamed("text", "b_text"), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_text"), col("b_text")).as("edit_distance"))
      .filter(col("edit_distance") <= 10)
      .orderBy("a_id", "b_id")
  }

  val q44_oracle: String = {
    import graft.functions.{HashFunctions => H}
    val sh = H.shinglesSql(T.tokensSql("text"))
    s"""WITH d AS (
       |  SELECT doc_id, text, list_distinct($sh) AS sh
       |  FROM documents WHERE doc_id < 500),
       |posting AS (SELECT doc_id, unnest(sh) AS s FROM d),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
       |  FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 20)
       |SELECT a_id, b_id, levenshtein(da.text, db.text) AS edit_distance
       |FROM cand JOIN d da ON cand.a_id = da.doc_id
       |          JOIN d db ON cand.b_id = db.doc_id
       |WHERE levenshtein(da.text, db.text) <= 10
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q78: stratified train/val/test split ----------

  /** Deterministic heldout carving: every document is assigned
    * train/val/test by two hex digits of a salted content hash
    * (256ths: 204/26/26 ≈ 80/10/10) — the same seedless idiom as
    * q33/q36, so the split is a pure function of the data: stable
    * across reruns, engines and cluster layouts, with no RNG state to
    * coordinate at 100 TB. Assignment is per-document WITHIN each
    * source (stratified), so every source contributes ~proportionally
    * to each split. Output is the split manifest a training run
    * consumes: per (source, split) document and token counts.
    *
    * Thresholds are exact integers over the hash bucket (no float
    * boundaries); near-dups should be removed BEFORE splitting (q60)
    * or leakage re-enters through duplicates — composition order is
    * the pipeline's contract, not this operator's.
    */
  val splitBuckets: Seq[(String, Int)] = // cumulative /256 upper bounds
    Seq("1_train" -> 204, "2_val" -> 230, "3_test" -> 256)

  def q78_stratified_split(spark: SparkSession, dir: String): DataFrame = {
    val h2 = substring(md5(concat(lit("split-1|"), col("doc_id").cast("string"))), 1, 2)
    val bucket = (instr(lit("0123456789abcdef"), substring(h2, 1, 1)) - 1) * 16 +
      (instr(lit("0123456789abcdef"), substring(h2, 2, 1)) - 1)
    val split = splitBuckets.reverse.foldLeft(lit(null).cast("string")) {
      case (acc, (name, ub)) => when(bucket < ub, lit(name)).otherwise(acc)
    }
    Tables.load(spark, dir, "documents")
      .select(col("source"), split.as("split"),
        size(T.tokens(col("text"))).cast("long").as("tok"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .orderBy("source", "split")
  }

  val q78_oracle: String = {
    val bucket =
      """((strpos('0123456789abcdef', substring(md5(concat('split-1|', CAST(doc_id AS VARCHAR))), 1, 1)) - 1) * 16
        | + (strpos('0123456789abcdef', substring(md5(concat('split-1|', CAST(doc_id AS VARCHAR))), 2, 1)) - 1))""".stripMargin
    val cases = splitBuckets
      .map { case (name, ub) => s"WHEN $bucket < $ub THEN '$name'" }
      .mkString("CASE ", " ", " END")
    s"""SELECT source, $cases AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(len(${T.tokensSql("text")})) AS BIGINT) AS n_tokens
       |FROM documents
       |GROUP BY 1, 2 ORDER BY source, split""".stripMargin
  }

  // ---------- registry ----------

  // ---------- q131: temperature-scaled mixture sampling ----------

  /** Temperature-scaled source mixture (T = 1/2) — the multilingual /
    * multi-source rebalancing recipe (sample sizes ∝ n_s^T flatten the
    * source distribution; the smallest source keeps everything,
    * larger sources downsample toward it): per-source keep fraction
    * f_s = √(n_min / n_s), realized deterministically by the q33 rule
    * — a document survives iff the first 24 bits of
    * md5("temp-1|" ‖ doc_id) fall below ⌊2²⁴·f_s⌋.
    *
    * The thresholds are DATA-DERIVED YET BIT-EXACT cross-engine with a
    * fully static oracle: IEEE 754 specifies sqrt, divide, and
    * multiply as correctly rounded, so both engines compute the
    * identical double and the identical floor — the reason T is 1/2
    * and not 0.7 (pow is NOT correctly rounded and could flip a
    * threshold by one ulp). The 24-bit compare runs in hex-string
    * space (6 chars, zero-padded, lowercase) on both sides.
    *
    * Scale shape: source counts are one tiny agg; thresholds broadcast
    * (|sources| rows); the keep test is a narrow scan; the rollup is
    * one partial agg. Nothing row-sized ever reaches the driver.
    */
  def q131_temperature_mixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "text")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val nMin = counts.agg(min(col("n_src")).as("n_min"))
    val bySrc = counts.crossJoin(broadcast(nMin))
      .withColumn("keep_ceiling",
        floor(lit(16777216.0) *
          sqrt(col("n_min").cast("double") / col("n_src").cast("double")))
          .cast("long"))
      .select("source", "n_src", "keep_ceiling")
    val h6 = substring(md5(concat(lit("temp-1|"), col("doc_id").cast("string"))), 1, 6)
    // the min source's ceiling is exactly 2^24 = 7 hex chars — compare
    // numerically there (keep all) and in 6-char hex space below it
    val keep = col("keep_ceiling") >= 16777216L ||
      h6 < lower(lpad(conv(col("keep_ceiling").cast("string"), 10, 16), 6, "0"))
    docs.join(broadcast(bySrc), "source")
      .groupBy("source")
      .agg(max(col("n_src")).as("n_src"),
        max(col("keep_ceiling")).as("keep_ceiling"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        // content pin: total text length of the kept documents (the
        // id-hash keep rule alone is text-independent)
        sum(when(keep, length(col("text"))).otherwise(0)).as("kept_chars"))
      .orderBy("source")
  }

  val q131_oracle: String =
    """WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
      |m AS (SELECT min(n_src) AS n_min FROM c),
      |t AS (SELECT source, n_src,
      |        CAST(floor(16777216.0 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE)))
      |          AS BIGINT) AS keep_ceiling
      |      FROM c, m),
      |k AS (SELECT d.source, t.n_src, t.keep_ceiling, length(d.text) AS len,
      |        (t.keep_ceiling >= 16777216 OR
      |         substr(md5('temp-1|' || CAST(doc_id AS VARCHAR)), 1, 6)
      |           < printf('%06x', t.keep_ceiling)) AS keep
      |      FROM documents d JOIN t USING (source))
      |SELECT source, CAST(max(n_src) AS BIGINT) AS n_src,
      |  CAST(max(keep_ceiling) AS BIGINT) AS keep_ceiling,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN keep THEN len ELSE 0 END) AS BIGINT) AS kept_chars
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  // ---------- q169: cross-source distribution similarity ----------

  /** Pairwise source similarity by HISTOGRAM INTERSECTION of token
    * distributions — `sim(s,t) = Σ_w min(p_sw, p_tw)` with
    * proportions in exact ppm integers — the exact-distribution
    * complement of q120's sketched distinct-overlap (this weighs HOW
    * MUCH each shared token is used, not whether it exists); the
    * statistic behind "are these two crawls the same corpus in
    * different clothes". min() of two exact integers is exact, the
    * sum is order-free, and the matrix hash-matches.
    *
    * Scale shape: one (source, token) partial-agg shuffle; the ppm
    * table is Σ|vocab_s| rows; the pair join is BY TOKEN (each token
    * meets only the ≤|sources| rows sharing it — never a source×
    * source×vocab blowup), rolled up to the |sources|²/2 matrix.
    */
  def q169_source_similarity(spark: SparkSession, dir: String): DataFrame = {
    val sw = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(T.tokens(lower(col("text")))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).cast("long").as("c"))
    val ns = sw.groupBy("source").agg(sum(col("c")).cast("long").as("n_s"))
    val p = sw.join(broadcast(ns), "source")
      .select(col("source"), col("w"), expr("(c * 1000000) DIV n_s").as("ppm"))
    p.as("a").join(p.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s"), col("b.source").as("t"))
      .agg(sum(least(col("a.ppm"), col("b.ppm"))).cast("long").as("overlap_ppm"))
      .orderBy("s", "t")
  }

  val q169_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH sw AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($toks) AS w FROM documents) GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sw GROUP BY source),
       |p AS (
       |  SELECT source, w, (c * 1000000) // n_s AS ppm
       |  FROM sw JOIN ns USING (source))
       |SELECT a.source AS s, b.source AS t,
       |  CAST(sum(least(a.ppm, b.ppm)) AS BIGINT) AS overlap_ppm
       |FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY s, t""".stripMargin
  }

  // ---------- q170: head-mass concentration ----------

  /** Vocabulary head-mass concentration per source — the log-free
    * Zipf-curvature summary: the exact ppm share of all token
    * occurrences carried by the top-10 and top-100 tokens (rank by
    * (count desc, token) — total order). A boilerplate-heavy source
    * shows head10 near 10⁶; a diverse one spreads. Reads directly as
    * the dedup/down-weight priority list.
    *
    * Scale shape: the same (source, token) rollup as q169, a
    * source-partitioned rank window over the vocab-sized table, one
    * per-source report row.
    */
  def q170_head_mass(spark: SparkSession, dir: String): DataFrame = {
    val wk = Window.partitionBy("source").orderBy(col("c").desc, col("w").asc)
    Tables.load(spark, dir, "documents")
      .select(col("source"), explode(T.tokens(lower(col("text")))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).cast("long").as("c"))
      .withColumn("rk", row_number().over(wk))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("vocab"),
        sum(col("c")).cast("long").as("n_tokens"),
        sum(when(col("rk") <= 10, col("c")).otherwise(0L)).cast("long").as("head10"),
        sum(when(col("rk") <= 100, col("c")).otherwise(0L)).cast("long").as("head100"))
      .withColumn("head10_ppm", expr("(head10 * 1000000) DIV n_tokens"))
      .withColumn("head100_ppm", expr("(head100 * 1000000) DIV n_tokens"))
      .select("source", "vocab", "n_tokens", "head10_ppm", "head100_ppm")
      .orderBy("source")
  }

  val q170_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH sw AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($toks) AS w FROM documents) GROUP BY 1, 2),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY c DESC, w ASC) AS rk
       |  FROM sw)
       |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |  CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST((sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) * 1000000) // sum(c)
       |    AS BIGINT) AS head10_ppm,
       |  CAST((sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) * 1000000) // sum(c)
       |    AS BIGINT) AS head100_ppm
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q169_source_similarity" -> (q169_source_similarity _),
    "q170_head_mass" -> (q170_head_mass _),
    "q131_temperature_mixture" -> (q131_temperature_mixture _),
    "q78_stratified_split" -> (q78_stratified_split _),
    "q32_quantiles" -> (q32_quantiles _),
    "q33_deterministic_sample" -> (q33_deterministic_sample _),
    "q34_normalize" -> (q34_normalize _),
    "q35_vocabulary" -> (q35_vocabulary _),
    "q36_mixture_sample" -> (q36_mixture_sample _),
    "q37_contamination" -> (q37_contamination _),
    "q38_range_join" -> (q38_range_join _),
    "q39_sliding_window" -> (q39_sliding_window _),
    "q40_tfidf" -> (q40_tfidf _),
    "q41_approx_stats" -> (q41_approx_stats _),
    "q43_json_extract" -> (q43_json_extract _),
    "q44_fuzzy_match" -> (q44_fuzzy_match _))

  val oracles: Map[String, String] = Map(
    "q169_source_similarity" -> q169_oracle,
    "q170_head_mass" -> q170_oracle,
    "q131_temperature_mixture" -> q131_oracle,
    "q78_stratified_split" -> q78_oracle,
    "q32_quantiles" -> q32_oracle,
    "q33_deterministic_sample" -> q33_oracle,
    "q34_normalize" -> q34_oracle,
    "q35_vocabulary" -> q35_oracle,
    "q36_mixture_sample" -> q36_oracle,
    "q37_contamination" -> q37_oracle,
    "q38_range_join" -> q38_oracle,
    "q39_sliding_window" -> q39_oracle,
    // q41_approx_stats intentionally absent: sketches are
    // engine-specific; the driver records a rows-only check and
    // CorpusQueriesSpec bounds the error against exact values
    "q40_tfidf" -> q40_oracle,
    "q43_json_extract" -> q43_oracle,
    "q44_fuzzy_match" -> q44_oracle)
}
