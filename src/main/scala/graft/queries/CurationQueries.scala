package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation outputs (SURVEY §2 #60–#61): the
  * operators that APPLY the dedup and quality analyses — what a
  * training-data pipeline actually writes out.
  */
object CurationQueries extends graft.QueryFamily {

  // ---------- q60: near-dup removal applied ----------

  /** The cleaned corpus after near-dup cluster removal: every document
    * in an LSH cluster except its min-id representative is dropped
    * (pairs alone over- or under-remove; clusters are the correct
    * unit — see q47). The removal itself is one left-anti join of the
    * corpus against the tiny non-representative set, so the full-text
    * side streams exactly once.
    */
  def q60_dedup_apply(spark: SparkSession, dir: String): DataFrame = {
    val cc = TextQueries.dupClusters(spark, dir)
    val drop = cc.filter(col("id") =!= col("component")).select(col("id"))
    Tables.load(spark, dir, "documents")
      .join(drop, col("doc_id") === col("id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q60_oracle: String =
    s"""WITH RECURSIVE pairs AS (${TextQueries.lshPairsSql}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT id FROM lab WHERE id <> cluster_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---------- q61: composite quality filter verdict ----------

  /** q61's quality rules as ONE ordered (reason, Spark predicate,
    * DuckDB predicate) table over columns (n_toks, lang_det, quality) —
    * the single source for q61's verdict, q86's stage-3 keep, and both
    * oracle renderings, so the funnel's quality stage can never drift
    * from the standalone operator.
    */
  private[queries] val qualityRules: Seq[(String, Column, String)] = Seq(
    ("too_short", col("n_toks") < 10, "n_toks < 10"),
    ("too_long", col("n_toks") > 1000, "n_toks > 1000"),
    ("unknown_lang", col("lang_det") === "und", "lang_det = 'und'"),
    ("low_quality", col("quality") < 0.4, "quality < 0.4"))

  /** First failing rule's reason, else "keep". */
  private[queries] def qualityVerdict: Column =
    qualityRules.foldRight(lit("keep")) {
      case ((reason, p, _), rest) => when(p, reason).otherwise(rest)
    }

  /** The boolean keep decision (no rule fails) — q86's stage 3. */
  private[queries] def qualityKeep: Column =
    !qualityRules.map(_._2).reduce(_ || _)

  private[queries] def qualityVerdictSql: String =
    qualityRules.map { case (reason, _, p) => s"WHEN $p THEN '$reason'" }
      .mkString("CASE ", " ", " ELSE 'keep' END")

  private[queries] def qualityKeepSql: String =
    qualityRules.map(_._3).mkString("NOT (", " OR ", ")")

  /** C4-style keep/drop verdict with the first failing rule as the
    * reason: length bounds, language detectability, composite quality
    * threshold. One narrow codegen'd pass over the corpus — the
    * decision column is what a curation pipeline partitions its
    * output by.
    */
  def q61_quality_filter(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("toks", T.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("lang_det", T.langId(col("toks")))
      .withColumn("quality", T.qualityScore(col("text")))
      .withColumn("verdict", qualityVerdict)
      .select(col("doc_id"), col("n_toks"), col("lang_det"),
        col("quality"), col("verdict"))
      .orderBy("doc_id")

  val q61_oracle: String = {
    val toks = T.tokensSql("text")
    s"""SELECT doc_id, n_toks, lang_det, quality,
       |  $qualityVerdictSql AS verdict
       |FROM (
       |  SELECT doc_id, len($toks) AS n_toks,
       |    ${T.langIdSql(toks)} AS lang_det,
       |    ${T.qualityScoreSql("text")} AS quality
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------- q63: token-budget sampling ----------

  /** Deterministic token-budget sampling: each source contributes
    * documents in id-hash order until its token budget is exhausted —
    * "give me ~N tokens per source, reproducibly" is the unit of every
    * data-mixture spec. Window cumulative sum per source; a doc is
    * kept while the budget is not yet exceeded INCLUDING itself, so
    * the output slightly overshoots rather than undershoots (matching
    * how mixture builders round). The running sum rides
    * [[graft.operators.RangeRank]]'s weight channel — bucketed by the
    * numeric value of the hash's 15-hex-char prefix (prefix-monotone
    * with the full-hash order; the full hash plus doc_id complete the
    * total order inside a bucket) — so no whole source ever funnels
    * through one task's cumsum. The md5 of the doc id gives a
    * uniform, seedless order (hash the TEXT instead if the sample
    * must also survive re-identification of the corpus).
    */
  val tokenBudget = 2000L

  def q63_token_budget(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val base = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("n_toks"),
        md5(concat(lit("budget|"), col("doc_id").cast("string"))).as("h"))
      .withColumn("h15", conv(substring(col("h"), 1, 15), 16, 10).cast("long"))
    RangeRank.rank(base, Seq("source"),
        Seq(RangeRank.Key("h15"), RangeRank.Key("h"), RangeRank.Key("doc_id")),
        "__rk", "__n",
        weight = Some(RangeRank.Weight("n_toks", "cum_toks", "__wtot")))
      .filter(col("cum_toks") - col("n_toks") < tokenBudget)
      .select("source", "doc_id", "n_toks", "cum_toks")
      // doc_id tiebreak: zero-token docs share cum_toks with their
      // predecessor and would otherwise order engine-dependently
      .orderBy("source", "cum_toks", "doc_id")
  }

  val q63_oracle: String =
    s"""SELECT source, doc_id, n_toks, cum_toks
       |FROM (
       |  SELECT source, doc_id, n_toks,
       |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
       |  FROM (
       |    SELECT source, doc_id,
       |      CAST(len(${T.tokensSql("text")}) AS BIGINT) AS n_toks,
       |      md5(concat('budget|', CAST(doc_id AS VARCHAR))) AS h
       |    FROM documents))
       |WHERE cum_toks - n_toks < $tokenBudget
       |ORDER BY source, cum_toks, doc_id""".stripMargin

  // ---------- q64: vocabulary coverage / OOV rate ----------

  /** Out-of-vocabulary rate per source against the corpus's top-K
    * token vocabulary — the coverage check run after building any
    * tokenizer vocab. Vocabulary selection is exact and total-ordered
    * (count desc, token asc); counts are integers and the rate is one
    * final double division, so both engines agree bitwise.
    */
  val vocabK = 20

  def q64_oov_rate(spark: SparkSession, dir: String): DataFrame = {
    // Aggregate to per-(source, token) counts FIRST, then persist only
    // that: it is |sources|·|vocab| rows — independent of corpus
    // length — where persisting the exploded token table would cache
    // the corpus×tokens blowup. Both the vocabulary selection and the
    // coverage join derive from these counts (occurrence totals are
    // sums of cnt), so the scan+tokenize lineage still runs once.
    val counts = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      // top-K by (count desc, token asc) via TakeOrdered — per-
      // partition top-K merged on the driver side of the limit, never
      // a global rank window over the (web-scale) vocabulary
      val vocab = counts.groupBy("tok").agg(sum(col("cnt")).as("tot"))
        .orderBy(col("tot").desc, col("tok").asc)
        .limit(vocabK)
        .select(col("tok").as("v_tok"))
      counts.join(broadcast(vocab), col("tok") === col("v_tok"), "left")
        .groupBy("source")
        .agg(
          sum(col("cnt")).as("n_occurrences"),
          coalesce(sum(when(col("v_tok").isNull, col("cnt"))), lit(0L)).as("n_oov"))
        .select(col("source"), col("n_occurrences"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_occurrences").cast("double"))
            .as("oov_rate"))
        .orderBy("source")
        // eager: the result is a handful of per-source rows, so
        // materializing here lets the finally release the cache instead
        // of leaking it into the rest of a Verify/Bench run ([[Lineage]])
        .transform(graft.Lineage.cut)
    } finally counts.unpersist()
  }

  val q64_oracle: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(${T.tokensSql("text")}) AS tok FROM documents),
       |vocab AS (
       |  SELECT tok AS v_tok FROM (
       |    SELECT tok, ROW_NUMBER() OVER (ORDER BY count(*) DESC, tok ASC) AS rk
       |    FROM toks GROUP BY tok)
       |  WHERE rk <= $vocabK)
       |SELECT source, count(*) AS n_occurrences,
       |  count(CASE WHEN v_tok IS NULL THEN 1 END) AS n_oov,
       |  CAST(count(CASE WHEN v_tok IS NULL THEN 1 END) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE) AS oov_rate
       |FROM toks LEFT JOIN vocab ON tok = v_tok
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------- q67: decontamination applied ----------

  /** The apply-form of q37's contamination scan: the corpus with every
    * benchmark-overlapping document REMOVED (left-anti against the
    * flagged set) — what the pipeline actually ships to training.
    * Summarized per source so the oracle stays small; the anti-join
    * streams the full-text side once.
    */
  def q67_decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bench = CorpusQueries.benchmarkShingles.toDF("s")
    val flagged = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(call_function("shingles3", col("text"))).as("s"))
      .join(broadcast(bench), "s")
      .select(col("doc_id").as("bad_id")).distinct()
    Tables.load(spark, dir, "documents")
      .join(flagged, col("doc_id") === col("bad_id"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy("source")
  }

  val q67_oracle: String = {
    import graft.functions.{HashFunctions => H}
    val sh = H.shinglesSql(T.tokensSql("text"))
    val bench = CorpusQueries.benchmarkShingles.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents
       |WHERE doc_id NOT IN (
       |  SELECT doc_id FROM (SELECT doc_id, $sh AS sh FROM documents)
       |  WHERE len(list_intersect(list_distinct(sh), $bench)) > 0)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q68: cross-source duplication overlap ----------

  /** Which sources duplicate each other: the LSH near-dup pairs (q25)
    * joined back to document metadata and aggregated to a source×source
    * overlap matrix — the curation view that decides which source to
    * keep when mixtures overlap (e.g. a web crawl duplicating a books
    * corpus). Pair count is near-linear (LSH), the metadata join is
    * broadcast-sized.
    */
  def q68_source_overlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "source")
    val pairs = TextQueries.lshPairs(spark, dir)
    pairs
      .join(docs.withColumnRenamed("doc_id", "a_id").withColumnRenamed("source", "a_source"), "a_id")
      .join(docs.withColumnRenamed("doc_id", "b_id").withColumnRenamed("source", "b_source"), "b_id")
      .select(
        least(col("a_source"), col("b_source")).as("source_x"),
        greatest(col("a_source"), col("b_source")).as("source_y"))
      .groupBy("source_x", "source_y")
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy("source_x", "source_y")
  }

  val q68_oracle: String =
    s"""WITH pairs AS (${TextQueries.lshPairsSql})
       |SELECT least(da.source, db.source) AS source_x,
       |  greatest(da.source, db.source) AS source_y,
       |  count(*) AS n_dup_pairs
       |FROM pairs
       |JOIN documents da ON pairs.a_id = da.doc_id
       |JOIN documents db ON pairs.b_id = db.doc_id
       |GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin

  // ---------- q77: sequence packing (concat-and-chunk) ----------

  /** Context-window packing plan — the step between a curated corpus
    * and a pretraining token stream: documents are concatenated in a
    * deterministic order and chunked into fixed token-budget windows
    * (GPT-style concat-and-chunk; each doc is assigned to the window
    * where its first token lands). Output is the packing MANIFEST —
    * (source, shard, window) → doc span + token count — which is what
    * a tokenizer fleet consumes to build the actual token files.
    *
    * Scale shape: a single corpus-wide running token sum would
    * serialize the scan, so packing runs within SHARDS of
    * [[packShardDocs]] documents (windows never cross a shard
    * boundary — the same deal real pipelines make by packing within
    * file-sized units). Each (source, shard) partition is bounded, so
    * the window-function sort is bounded and every shard packs in
    * parallel; one shuffle by (source, shard), then a partial-agg
    * rollup to windows. Token counts come from the native
    * `token_count` expression (q19 pins its DuckDB twin).
    */
  val packBudget = 2048 // tokens per context window
  val packShardDocs = 1000L // docs per packing shard (boundary unit)

  def q77_sequence_pack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = expr(s"doc_id div $packShardDocs")
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), shard.as("shard"),
        size(T.tokens(col("text"))).cast("long").as("tok"))
      .withColumn("start_tok", sum(col("tok")).over(w) - col("tok"))
      .withColumn("window_id", expr(s"start_tok div $packBudget"))
      .groupBy("source", "shard", "window_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "shard", "window_id")
  }

  val q77_oracle: String =
    s"""SELECT source, shard, window_id, count(*) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM (
       |  SELECT source, doc_id, shard, tok,
       |    CAST((sum(tok) OVER (PARTITION BY source, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok)
       |      // $packBudget AS BIGINT) AS window_id
       |  FROM (
       |    SELECT source, doc_id, doc_id // $packShardDocs AS shard,
       |      len(${T.tokensSql("text")}) AS tok
       |    FROM documents))
       |GROUP BY 1, 2, 3 ORDER BY source, shard, window_id""".stripMargin

  // ---------- q86: the curation pipeline end-to-end ----------

  /** The full training-data curation pipeline as ONE composed
    * dataflow — the corpus-side analog of q09's metadata-ETL e2e.
    * Every stage reuses the exact operator the suite verifies in
    * isolation, chained in the order a real pipeline runs them:
    *
    *   raw → exact dedup (q23's min-id representatives)
    *       → near-dup cluster removal (q60's CC drop set)
    *       → quality filter (q61's verdict rules)
    *       → benchmark decontamination (q67's flagged set)
    *
    * and the output is the per-source FUNNEL — how many documents
    * survive each stage and the final token yield — the one-page
    * answer to "what would this corpus contribute to a training run?".
    *
    * Scale shape: stage memberships are computed as independent
    * bounded-size keep/drop sets (content-hash agg, CC over LSH pairs,
    * narrow scans) and LEFT-JOINED onto one pass over the corpus —
    * the full-text table streams exactly once, and the final rollup
    * is a partial agg on source. No stage feeds its survivor SET
    * into the next stage's computation (memberships compose as
    * conjunctions), so the stages also run in parallel rather than as
    * a serial chain of materializations.
    */
  def q86_curation_e2e(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    // stage-1 membership: exact-dedup representatives (q23 semantics)
    val exactKeep = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("s_exact"))
    // stage-2 membership: near-dup cluster non-representatives (q60)
    val nearDrop = TextQueries.dupClusters(spark, dir)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"), lit(1L).as("near_dropped"))
    // stage-4 membership: benchmark-contaminated docs (q67)
    val bench = CorpusQueries.benchmarkShingles.toDF("s")
    val contaminated = docs
      .select(col("doc_id"), explode(call_function("shingles3", col("text"))).as("s"))
      .join(broadcast(bench), "s")
      .select("doc_id").distinct()
      .withColumn("contam", lit(1L))
    docs
      .withColumn("toks", T.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("lang_det", T.langId(col("toks")))
      .withColumn("quality", T.qualityScore(col("text")))
      // stage-3 membership: q61's keep verdict, the SHARED predicate
      .withColumn("q_keep", qualityKeep)
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("s1", col("s_exact").isNotNull)
      .withColumn("s2", col("s1") && col("near_dropped").isNull)
      .withColumn("s3", col("s2") && col("q_keep"))
      .withColumn("s4", col("s3") && col("contam").isNull)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_raw"),
        count(when(col("s1"), 1)).as("n_exact"),
        count(when(col("s2"), 1)).as("n_neardup"),
        count(when(col("s3"), 1)).as("n_quality"),
        count(when(col("s4"), 1)).as("n_final"),
        sum(when(col("s4"), col("n_toks")).otherwise(0L)).as("tokens_final"))
      .orderBy("source")
  }

  val q86_oracle: String = {
    import graft.functions.{HashFunctions => H}
    val tk = T.tokensSql("text")
    val sh = H.shinglesSql(tk)
    val bench = CorpusQueries.benchmarkShingles.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE pairs AS (${TextQueries.lshPairsSql}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |exact AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |neardrop AS (SELECT id AS doc_id FROM lab WHERE id <> cluster_id),
       |contam AS (
       |  SELECT doc_id FROM (SELECT doc_id, $sh AS sh FROM documents)
       |  WHERE len(list_intersect(list_distinct(sh), $bench)) > 0),
       |d AS (
       |  SELECT doc_id, source, n_toks,
       |    $qualityKeepSql
       |      AS q_keep
       |  FROM (
       |    SELECT doc_id, source, len($tk) AS n_toks,
       |      ${T.langIdSql(tk)} AS lang_det,
       |      ${T.qualityScoreSql("text")} AS quality
       |    FROM documents)),
       |s AS (
       |  SELECT d.*,
       |    (exact.doc_id IS NOT NULL) AS s1,
       |    (exact.doc_id IS NOT NULL AND neardrop.doc_id IS NULL) AS s2,
       |    (exact.doc_id IS NOT NULL AND neardrop.doc_id IS NULL AND q_keep) AS s3,
       |    (exact.doc_id IS NOT NULL AND neardrop.doc_id IS NULL AND q_keep
       |      AND contam.doc_id IS NULL) AS s4
       |  FROM d
       |  LEFT JOIN exact ON d.doc_id = exact.doc_id
       |  LEFT JOIN neardrop ON d.doc_id = neardrop.doc_id
       |  LEFT JOIN contam ON d.doc_id = contam.doc_id)
       |SELECT source, count(*) AS n_raw,
       |  count(CASE WHEN s1 THEN 1 END) AS n_exact,
       |  count(CASE WHEN s2 THEN 1 END) AS n_neardup,
       |  count(CASE WHEN s3 THEN 1 END) AS n_quality,
       |  count(CASE WHEN s4 THEN 1 END) AS n_final,
       |  CAST(sum(CASE WHEN s4 THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_final
       |FROM s GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q111: weighted deterministic sampling ----------

  /** Importance-weighted corpus sampling: each document keeps with
    * probability proportional to its OWN quality score — the
    * per-document generalization of q36's per-source mixture weights
    * (there the keep fraction is a source-level constant; here every
    * row carries its weight). The CCNet/quality-pruning recipe:
    * upsample nothing, but let quality decide how much of each
    * source's tail survives.
    *
    * Determinism is the q33 rule taken to weighted Bernoulli: the
    * uniform draw is the document's 60-bit content hash, and the
    * keep test `u · 10⁶ < w_micro · 2⁶⁰` is evaluated in
    * decimal(38,0) — integer-exact, so no float boundary can ever
    * disagree between engines, reruns, or cluster sizes. The weight
    * is the quality score floored to micro-units (the suite's
    * scaled-integer rule). One narrow scan, one small aggregate; at
    * 100 TB the sample is a pure function of the data.
    */
  def q111_weighted_sample(spark: SparkSession, dir: String): DataFrame = {
    val two60 = lit("1152921504606846976").cast("decimal(38,0)") // 2^60
    Tables.load(spark, dir, "documents")
      .withColumn("w_micro",
        floor(T.qualityScore(col("text")) * 1000000L).cast("long"))
      .withColumn("u60",
        conv(substring(md5(concat(lit("wsample|"), col("doc_id").cast("string"))), 1, 15),
          16, 10).cast("long"))
      .filter(
        col("u60").cast("decimal(38,0)") * 1000000L <
          col("w_micro").cast("decimal(38,0)") * two60)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("w_micro")).cast("long").as("w_micro_sum"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source")
  }

  val q111_oracle: String =
    s"""SELECT source, count(*) AS n_kept,
       |  CAST(sum(w_micro) AS BIGINT) AS w_micro_sum,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM (
       |  SELECT source, doc_id,
       |    CAST(floor(${T.qualityScoreSql("text")} * 1000000) AS BIGINT) AS w_micro,
       |    CAST(concat('0x', substring(md5(concat('wsample|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS u60
       |  FROM documents)
       |WHERE CAST(u60 AS HUGEINT) * 1000000 < CAST(w_micro AS HUGEINT) * 1152921504606846976
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------- q132: hashed n-gram importance resampling (DSIR) ----------

  /** Feature-hash width. 4096 buckets keeps the weight table
    * broadcast-trivial at ANY corpus size — the whole point of hashed
    * features (Xie et al. 2023, DSIR): the target/raw distribution
    * estimate is a fixed-width vector no matter how many n-grams feed
    * it. Too few buckets wash the signal out (at 128, every bucket
    * mixes all languages and every ratio collapses toward 1 —
    * measured: the en/else score gap triples going 128 → 4096).
    */
  val dsirBuckets = 4096L

  /** Data-Selection-via-Importance-Resampling scoring (Xie et al.,
    * NeurIPS 2023 — the "pick web data that looks like the target
    * domain" recipe): estimate a target and a raw distribution of
    * hashed word-BIGRAM features (the paper's feature space) over
    * [[dsirBuckets]] buckets (target = the 'en' slice, the paper's
    * domain-targeted setup), weight every bucket by its target/raw
    * likelihood ratio, and score each document by its mean bucket
    * weight. DSIR's log-ratio sum is replaced by the mean RATIO in
    * micro-units — per-bucket `(c_t·N_raw·10⁶) DIV (c_r·N_t)` then an
    * integer mean per doc (the q104 rational-arithmetic rule), so
    * scores are exact integers and hash-match across engines.
    * `selected` marks docs scoring above 10⁶ = more target-like than
    * the corpus average.
    *
    * Scale shape: one exploded-corpus pass builds both bucket tables
    * (128 rows each — partial aggregation collapses everything
    * map-side); N_raw/N_t derive from those tables, never a second
    * corpus pass; scoring joins the corpus against an explicitly
    * BROADCAST 128-row weight table and partially aggregates per doc.
    * Total: two corpus-sized shuffles (bucket counts, per-doc agg),
    * both carrying (id, bucket) pairs.
    */
  def q132_dsir(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), T.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("w"))
      .withColumn("b",
        conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long") % dsirBuckets)
      .select("doc_id", "lang", "b")
    // measured and rejected (r19 second pass): folding raw + target
    // into one conditional aggregate derives the exploded stream once
    // instead of twice, but the two aggregate branches schedule
    // CONCURRENTLY on idle cores (guide §2.6), so the single-pass form
    // benched consistently SLOWER at sf0.1/32cpu (warm medians 1.8 →
    // 2.5 s); the two-branch shape stands
    val raw = tok.groupBy("b").agg(count(lit(1)).cast("long").as("c_r"))
    val tgt = tok.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).cast("long").as("c_t"))
    val counts = raw.join(tgt, Seq("b"), "left")
      .withColumn("c_t", coalesce(col("c_t"), lit(0L)))
      .persist()
    // scalars off the 128-row bucket table, not the corpus (q114 rule)
    val (nRaw, nTgt) =
      counts.agg(coalesce(sum(col("c_r")), lit(0L)), coalesce(sum(col("c_t")), lit(0L)))
        .head match { case r => (r.getLong(0), r.getLong(1)) }
    val weights =
      if (nTgt == 0L) counts.withColumn("w_micro", lit(0L)).select("b", "w_micro")
      else counts.withColumn("w_micro", expr(
        s"(CAST(c_t AS DECIMAL(38,0)) * $nRaw * 1000000) " +
          s"DIV (CAST(c_r AS DECIMAL(38,0)) * $nTgt)"))
        .select("b", "w_micro")
    try
      tok.join(broadcast(weights), "b")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).cast("long").as("n_toks"),
          sum(col("w_micro")).cast("long").as("w_sum"))
        .withColumn("score_micro", expr("w_sum DIV n_toks"))
        .withColumn("selected", col("score_micro") >= 1000000L)
        .select("doc_id", "lang", "n_toks", "score_micro", "selected")
        .orderBy("doc_id")
        .transform(graft.Lineage.cut) // eager: survives the unpersist
    finally counts.unpersist()
  }

  val q132_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH tk AS (
       |  SELECT doc_id, lang, $toks AS t FROM documents),
       |tok AS (
       |  SELECT doc_id, lang,
       |    CAST(concat('0x', substring(md5(w), 1, 6)) AS BIGINT) % $dsirBuckets AS b
       |  FROM (
       |    SELECT doc_id, lang,
       |      unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS w
       |    FROM tk WHERE len(t) >= 2)),
       |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r FROM tok GROUP BY b),
       |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS c_t
       |        FROM tok WHERE lang = 'en' GROUP BY b),
       |n AS (SELECT CAST(sum(c_r) AS HUGEINT) AS n_raw FROM raw),
       |m AS (SELECT CAST(coalesce(sum(c_t), 0) AS HUGEINT) AS n_tgt FROM tgt),
       |wt AS (
       |  SELECT raw.b,
       |    CAST((CAST(coalesce(c_t, 0) AS HUGEINT) * n.n_raw * 1000000)
       |      // (CAST(c_r AS HUGEINT) * m.n_tgt) AS BIGINT) AS w_micro
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, n, m)
       |SELECT doc_id, lang,
       |  CAST(count(*) AS BIGINT) AS n_toks,
       |  CAST(sum(w_micro) // count(*) AS BIGINT) AS score_micro,
       |  (sum(w_micro) // count(*)) >= 1000000 AS selected
       |FROM tok JOIN wt ON tok.b = wt.b
       |GROUP BY doc_id, lang
       |ORDER BY doc_id""".stripMargin
  }

  // ---------- q212: deduplicated token budget ----------

  /** The EFFECTIVE token budget per source after near-dup collapse —
    * raw token counts over-state a crawl's worth exactly by its
    * duplication (a mixture weighted on raw tokens over-trains on
    * boilerplate-heavy sources): q47's clusters keep one
    * representative (min doc_id); every other member's tokens are
    * removed from the budget. Reports raw vs kept docs/tokens and
    * the savings in ppm — the number a data-mixture spec should be
    * weighted on (q36/q63/q148 take token budgets as INPUT; this is
    * where the honest input comes from).
    *
    * Scale shape: q47's bucket-bounded pair graph + pair-vertex CC;
    * the drop set (cluster members minus representatives) broadcasts
    * against the corpus as an anti-join; token counting is one
    * codegen'd scan.
    */
  def q212_dedup_token_budget(spark: SparkSession, dir: String): DataFrame = {
    val cc = TextQueries.dupClusters(spark, dir)
    val reps = cc.groupBy("component").agg(min(col("id")).as("keep"))
      .withColumnRenamed("component", "rep_comp")
    val drops = cc.join(reps, col("component") === col("rep_comp"))
      .filter(col("id") =!= col("keep"))
      .select(col("id").as("drop_id"))
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("n_toks"))
      // NO broadcast hint: the drop set is the near-dup non-representative
      // population — small at toy SF but a large fraction of ALL documents
      // on a boilerplate-heavy corpus. Let AQE pick the join strategy from
      // the measured size (it still broadcasts at small SF).
      .join(drops, col("doc_id") === col("drop_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("raw_docs"),
        sum(col("n_toks")).cast("long").as("raw_tokens"),
        count(when(col("drop_id").isNull, 1)).cast("long").as("kept_docs"),
        coalesce(sum(when(col("drop_id").isNull, col("n_toks"))), lit(0L))
          .cast("long").as("kept_tokens"))
      .withColumn("savings_ppm",
        expr("((raw_tokens - kept_tokens) * 1000000) DIV raw_tokens"))
      .orderBy("source")
  }

  val q212_oracle: String =
    s"""WITH RECURSIVE pairs AS (${TextQueries.lshPairsSql}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |reps AS (SELECT cluster_id, min(id) AS keep FROM lab GROUP BY cluster_id),
       |drops AS (
       |  SELECT lab.id FROM lab JOIN reps USING (cluster_id)
       |  WHERE lab.id <> reps.keep),
       |d AS (
       |  SELECT source, doc_id,
       |    CAST(len(${T.tokensSql("text")}) AS BIGINT) AS n_toks,
       |    doc_id IN (SELECT id FROM drops) AS dropped
       |  FROM documents)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS raw_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS raw_tokens,
       |  CAST(count(*) FILTER (WHERE NOT dropped) AS BIGINT) AS kept_docs,
       |  CAST(coalesce(sum(n_toks) FILTER (WHERE NOT dropped), 0) AS BIGINT)
       |    AS kept_tokens,
       |  CAST(((sum(n_toks) - coalesce(sum(n_toks) FILTER (WHERE NOT dropped), 0))
       |    * 1000000) // sum(n_toks) AS BIGINT) AS savings_ppm
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // ---------- q244: duplication-vs-quality rank correlation ----------

  /** Does duplication correlate with (low) quality? The Spearman
    * rank correlation between a document's EXACT-dup cluster size
    * (q23's md5 groups) and its quality score — the number that
    * decides whether dedup doubles as a quality filter on this
    * corpus, or the two screens are independent. Both rankings use
    * the total order (value, doc_id), so every rank is deterministic
    * cross-engine; the output carries the exact integer components
    * (n, Σd²) plus the standard ρ = 1 − 6Σd²/(n(n²−1)) evaluated with
    * the same operand order in both engines.
    *
    * Scale shape: cluster sizes are one hash-keyed aggregate joined
    * back on the 16-byte hash (corpus-scaled: no hint); BOTH global
    * rankings ride ONE [[graft.operators.RangeRank.rankMulti]] pass —
    * shared boundary probe, shared offset stats, two bucket-local
    * windows — never a single-task corpus sort. The final reduce is a
    * 1-row aggregate.
    */
  def q244_dup_quality_corr(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    import graft.operators.RangeRank.{Key, Spec}
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("h"),
        T.qualityScore(col("text")).as("q"))
    val sizes = base.groupBy("h").agg(count(lit(1)).as("dup_size"))
    val joined = base.join(sizes, Seq("h"))
      .select(col("doc_id"), col("dup_size"), col("q"))
    val ranked = RangeRank.rankMulti(joined, Nil, Seq(
      Spec(Seq(Key("dup_size"), Key("doc_id")), "ra", "na"),
      Spec(Seq(Key("q"), Key("doc_id")), "rb", "nb")))
    ranked
      .agg(count(lit(1)).cast("long").as("n"),
        sum((col("ra") - col("rb")) * (col("ra") - col("rb")))
          .cast("long").as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        when(col("n") > 1,
          lit(1.0) - (lit(6.0) * col("sum_d2").cast("double"))
            / (col("n") * (col("n") * col("n") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("spearman"))
  }

  val q244_oracle: String =
    s"""WITH b AS (
       |  SELECT doc_id, md5(text) AS h, ${T.qualityScoreSql("text")} AS q
       |  FROM documents),
       |s AS (SELECT h, CAST(count(*) AS BIGINT) AS dup_size FROM b GROUP BY h),
       |j AS (SELECT doc_id, dup_size, q FROM b JOIN s USING (h)),
       |r AS (
       |  SELECT
       |    CAST(row_number() OVER (ORDER BY dup_size, doc_id) AS BIGINT) AS ra,
       |    CAST(row_number() OVER (ORDER BY q, doc_id) AS BIGINT) AS rb
       |  FROM j),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
       |  FROM r)
       |SELECT n, sum_d2,
       |  CASE WHEN n > 1 THEN
       |    1.0 - (6.0 * CAST(sum_d2 AS DOUBLE))
       |      / CAST(n * (n * n - 1) AS DOUBLE)
       |  ELSE 0.0 END AS spearman
       |FROM agg""".stripMargin

  // ---------- registry ----------

  // ---------- q148: deterministic weighted interleave (training order) ----------

  /** Per-source interleave weights in sixteenths — q36's mixture
    * config reused as the EMISSION-RATE config: source s emits w_s
    * docs per 16 virtual time units.
    */
  val interleaveWeights: Seq[(String, Int)] = Seq(
    "src0" -> 8, "src1" -> 4, "src2" -> 2, "src3" -> 1)

  /** Deterministic weighted source interleaving — the training-ORDER
    * manifest (curriculum step) a data mixture needs after q36 decides
    * WHAT to keep: the r-th document of source s is scheduled at
    * integer virtual time `v = (r·16) DIV w_s` (weighted round-robin /
    * virtual-time fair queuing — a source of weight 8 emits 8 docs per
    * 16 ticks, weight 1 emits 1), global order = (v, source, r), fully
    * deterministic with zero RNG state: per-source ranks follow the
    * q33 content-hash order so the interleave is reproducible from
    * doc ids alone. Any prefix of the schedule holds each source's
    * share within ±1 of its weight ratio — the property that makes
    * per-epoch data order stable across reruns and resumable
    * mid-epoch.
    *
    * Scale shape: both ranks ride [[graft.operators.RangeRank]] — the
    * per-source hash rank buckets on the numeric value of the md5
    * prefix (fixed-width lowercase hex, so numeric order ≡ the
    * lexicographic order the oracle sorts by), the global position on
    * virtual time — so each window partition holds a bucket's worth
    * of rows, never a whole source or the whole schedule in one task;
    * positions are exactly the old global-sort positions (a training
    * schedule IS a total order — the ORDER survives; only the
    * single-task sort is gone). No corpus-sized collects.
    */
  def q148_interleave(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val w = interleaveWeights.foldLeft(lit(0)) { case (acc, (s, k)) =>
      when(col("source") === s, lit(k)).otherwise(acc)
    }
    val base = Tables.load(spark, dir, "documents")
      .filter(col("source").isin(interleaveWeights.map(_._1): _*))
      .withColumn("wgt", w)
      // numeric value of the 8-hex-char md5 prefix: monotone with the
      // string (fixed width, lowercase), numeric for boundary probing
      .withColumn("hord",
        conv(substring(md5(concat(lit("ord|"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long"))
    val ranked = RangeRank.rank(base, Seq("source"),
        Seq(RangeRank.Key("hord"), RangeRank.Key("doc_id")), "src_rank", "__n")
      .withColumn("vtime", expr("(src_rank * 16) DIV wgt"))
    RangeRank.rank(ranked, Nil,
        Seq(RangeRank.Key("vtime"), RangeRank.Key("source"),
          RangeRank.Key("src_rank")), "pos", "__np")
      // text_chars pins each emitted row to its document's CONTENT —
      // the schedule itself is a pure function of ids and would
      // otherwise be identical over any corpus sharing the id space
      .select(col("pos"), col("doc_id"), col("source"), col("src_rank"),
        col("vtime"), length(col("text")).as("text_chars"))
      .orderBy("pos")
  }

  val q148_oracle: String = {
    val wCase = interleaveWeights
      .map { case (s, k) => s"WHEN source = '$s' THEN $k" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val srcs = interleaveWeights.map(s => s"'${s._1}'").mkString(", ")
    s"""WITH r AS (
       |  SELECT doc_id, source, ($wCase) AS wgt, length(text) AS text_chars,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY substring(md5(concat('ord|', CAST(doc_id AS VARCHAR))), 1, 8),
       |        doc_id) AS BIGINT) AS src_rank
       |  FROM documents WHERE source IN ($srcs)),
       |v AS (
       |  SELECT doc_id, source, src_rank, text_chars,
       |    (src_rank * 16) // wgt AS vtime
       |  FROM r)
       |SELECT CAST(row_number() OVER (ORDER BY vtime, source, src_rank) AS BIGINT)
       |    AS pos,
       |  doc_id, source, src_rank, CAST(vtime AS BIGINT) AS vtime, text_chars
       |FROM v ORDER BY pos""".stripMargin
  }

  // ---------- q175: fixed-quota stratified sample ----------

  /** Per-source quota. */
  val quotaK = 10

  /** Fixed-QUOTA stratified sampling — the third sampling contract
    * (q33 takes a fraction of everything, q78 splits by fraction per
    * stratum; eval sets and human-review batches need "exactly k per
    * source"): the k lowest salted-content-hash documents of each
    * source, so the quota is deterministic, seedless, and STABLE
    * under corpus growth in the only sense possible — a document
    * leaves the sample only when a new document hashes below it.
    * Emits the manifest rows themselves (doc ids are the point of a
    * review batch).
    *
    * Scale shape: one narrow scan + the per-source rank via
    * [[graft.operators.RangeRank]] (hash-prefix buckets + offsets —
    * the q63 trick — so no whole source sorts in one task even at
    * corpus scale); output is |sources|·k rows.
    */
  def q175_quota_sample(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val base = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"),
        md5(concat(lit("quota|"), col("doc_id").cast("string"))).as("h"))
      .withColumn("h15", conv(substring(col("h"), 1, 15), 16, 10).cast("long"))
    RangeRank.rank(base, Seq("source"),
        Seq(RangeRank.Key("h15"), RangeRank.Key("h"), RangeRank.Key("doc_id")),
        "rk", "__n")
      .filter(col("rk") <= quotaK)
      .withColumn("rk", col("rk").cast("int"))
      .select("source", "rk", "doc_id", "n_chars")
      .orderBy("source", "rk")
  }

  val q175_oracle: String =
    s"""SELECT source, rk, doc_id, n_chars FROM (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY md5(concat('quota|', CAST(doc_id AS VARCHAR))), doc_id)
       |      AS rk
       |  FROM documents)
       |WHERE rk <= $quotaK ORDER BY source, rk""".stripMargin

  // ---------- q220: quality-canonical cluster representatives ----------

  /** Quality-aware canonical selection for near-dup clusters: instead
    * of q47/q60's min-id representative, KEEP the highest-quality
    * member (ties → lowest doc_id) — what a real curation pipeline
    * does, since near-dups differ in boilerplate and truncation even
    * when their shingles agree. Output per cluster: the min-id label,
    * the kept member, its quality, cluster size, and whether the
    * quality rule changed the pick — the audit row for migrating a
    * dedup pipeline from id-canonical to quality-canonical.
    *
    * Scale shape: clusters from the q25/q47 LSH+CC machinery (pair
    * vertices only, never the corpus); quality is one narrow corpus
    * map joined by doc id; the argmax is a single max(struct) hash
    * aggregate per cluster — no windows, no collects.
    */
  def q220_canonical_rep(spark: SparkSession, dir: String): DataFrame = {
    val cc = TextQueries.dupClusters(spark, dir)
    val q = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        floor(T.qualityScore(col("text")) * 1000000L).cast("long").as("q_micro"))
    cc.join(q, cc("id") === q("doc_id"))
      .groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        max(struct(col("q_micro"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        col("best.q_micro").as("kept_q_micro"),
        (-col("best.negid")).as("kept_doc_id"))
      .withColumn("changed_pick", col("kept_doc_id") =!= col("cluster_id"))
      .select("cluster_id", "kept_doc_id", "kept_q_micro", "n_members",
        "changed_pick")
      .orderBy("cluster_id")
  }

  val q220_oracle: String = {
    val qSql = T.qualityScoreSql("text")
    s"""WITH RECURSIVE pairs AS (${TextQueries.lshPairsSql}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |m AS (
       |  SELECT lab.cluster_id, lab.id,
       |    CAST(floor($qSql * 1000000) AS BIGINT) AS q_micro
       |  FROM lab JOIN documents ON lab.id = doc_id),
       |best AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |    max(q_micro) AS kept_q_micro
       |  FROM m GROUP BY cluster_id)
       |SELECT best.cluster_id,
       |  min(m.id) AS kept_doc_id,
       |  best.kept_q_micro, best.n_members,
       |  min(m.id) <> best.cluster_id AS changed_pick
       |FROM best JOIN m ON m.cluster_id = best.cluster_id
       |  AND m.q_micro = best.kept_q_micro
       |GROUP BY best.cluster_id, best.kept_q_micro, best.n_members
       |ORDER BY best.cluster_id""".stripMargin
  }

  // ---------- q221: mixture feasibility (binding-source report) ----------

  /** Declared target mixture in ppm (sums to 10⁶) over five sources. */
  val mixtureTargetPpm: Seq[(String, Long)] = Seq(
    "src0" -> 400000L, "src1" -> 250000L, "src2" -> 200000L,
    "src3" -> 100000L, "src4" -> 50000L)

  /** Mixture feasibility: given a declared target mixture and the
    * measured per-source token supply, the largest total corpus T for
    * which the mixture is achievable WITHOUT oversampling any source
    * is T = min_s floor(n_s·10⁶ / w_s) — the binding source is the
    * argmin. Output per declared source: supply, target weight, the
    * feasible allocation w_s·T DIV 10⁶, the leftover, and the binding
    * flag — the one-page report a mixture planner reads before
    * launching a training run (q212 supplies the post-dedup honest
    * n_s; this query closes the loop to an executable allocation).
    *
    * Scale shape: one lowCard aggregate for supply; everything after
    * is arithmetic on ≤ |declared sources| rows (the cap table is a
    * 1-row global-aggregate cross join, broadcast by maxRows).
    */
  def q221_mixture_feasibility(spark: SparkSession, dir: String): DataFrame = {
    val w = mixtureTargetPpm.foldLeft(lit(0L)) { case (acc, (s, p)) =>
      when(col("source") === s, lit(p)).otherwise(acc)
    }
    val supply = Tables.load(spark, dir, "documents")
      .filter(col("source").isin(mixtureTargetPpm.map(_._1): _*))
      .select(col("source"), size(T.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(sum(col("n")).cast("long").as("n_toks"))
      .withColumn("w_ppm", w)
    val cap = supply
      .agg(min(expr("(n_toks * 1000000) DIV w_ppm")).cast("long").as("t_max"))
    supply.crossJoin(broadcast(cap))
      .withColumn("alloc_toks", expr("(w_ppm * t_max) DIV 1000000"))
      .withColumn("slack_toks", col("n_toks") - col("alloc_toks"))
      .withColumn("binding", expr("(n_toks * 1000000) DIV w_ppm") === col("t_max"))
      .select("source", "n_toks", "w_ppm", "t_max", "alloc_toks",
        "slack_toks", "binding")
      .orderBy("source")
  }

  val q221_oracle: String = {
    val toks = T.tokensSql("text")
    val wCase = mixtureTargetPpm
      .map { case (s, p) => s"WHEN source = '$s' THEN $p" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val srcs = mixtureTargetPpm.map(s => s"'${s._1}'").mkString(", ")
    s"""WITH supply AS (
       |  SELECT source, CAST(sum(len($toks)) AS BIGINT) AS n_toks,
       |    CAST(($wCase) AS BIGINT) AS w_ppm
       |  FROM documents WHERE source IN ($srcs)
       |  GROUP BY source),
       |cap AS (
       |  SELECT CAST(min((n_toks * 1000000) // w_ppm) AS BIGINT) AS t_max
       |  FROM supply)
       |SELECT source, n_toks, w_ppm, t_max,
       |  CAST((w_ppm * t_max) // 1000000 AS BIGINT) AS alloc_toks,
       |  CAST(n_toks - (w_ppm * t_max) // 1000000 AS BIGINT) AS slack_toks,
       |  (n_toks * 1000000) // w_ppm = t_max AS binding
       |FROM supply CROSS JOIN cap
       |ORDER BY source""".stripMargin
  }

  // ---------- q234: cluster-aware K-fold cross-validation ----------

  /** Number of cross-validation folds. */
  val cvFolds = 5

  /** K-fold assignment with BOTH guarantees an evaluation protocol
    * needs and neither q78 nor q223 alone provides: leakage-freeness
    * (a near-dup cluster lands whole in one fold — q223's rule) AND
    * exact fold sizes (hash-bucketing gives only approximate ones):
    * distinct group keys are ranked by a salted content hash and fold
    * = ((rank−1)·K) DIV n — sizes differ by at most one BY
    * CONSTRUCTION, the q228 exactness idea applied to folds. Output
    * per fold: docs, tokens, groups — the fold-balance sheet.
    *
    * Scale shape: the group-key rank runs on the DISTINCT key table
    * (≤ corpus, typically ≪ after clustering) through
    * [[graft.operators.RangeRank]] — sample-boundary buckets, never a
    * single-task global sort; docs join the key→fold map by group key
    * (AQE decides the strategy); ≤K-row rollup.
    */
  def q234_crossval_folds(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val cc = TextQueries.dupClusters(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(T.tokens(col("text"))).cast("long").as("tok"))
      .join(cc.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .withColumn("gkey", coalesce(col("component"), col("doc_id")))
    val keys = docs.select("gkey").distinct()
      .withColumn("h",
        conv(substring(md5(concat(lit("cv|"), col("gkey").cast("string"))),
          1, 8), 16, 10).cast("long"))
    val folds = RangeRank.rank(keys,
        Nil, Seq(RangeRank.Key("h"), RangeRank.Key("gkey")), "rk", "nk")
      .withColumn("fold", expr(s"((rk - 1) * $cvFolds) DIV nk"))
      .select("gkey", "fold")
    docs.join(folds, "gkey")
      .groupBy("fold")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("tok")).cast("long").as("n_tokens"),
        countDistinct(col("gkey")).cast("long").as("n_groups"))
      .orderBy("fold")
  }

  val q234_oracle: String = {
    val toks = T.tokensSql("text")
    s"""WITH RECURSIVE pairs AS (${TextQueries.lshPairsSql}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       |lab AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       |d AS (
       |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS tok,
       |    coalesce(lab.component, doc_id) AS gkey
       |  FROM documents LEFT JOIN lab ON doc_id = lab.id),
       |k AS (SELECT DISTINCT gkey FROM d),
       |rk AS (
       |  SELECT gkey,
       |    CAST(row_number() OVER (ORDER BY
       |      substring(md5(concat('cv|', CAST(gkey AS VARCHAR))), 1, 8), gkey)
       |      AS BIGINT) AS rk,
       |    CAST(count(*) OVER () AS BIGINT) AS nk
       |  FROM k),
       |f AS (SELECT gkey, CAST(((rk - 1) * $cvFolds) // nk AS BIGINT) AS fold
       |      FROM rk)
       |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  CAST(count(DISTINCT d.gkey) AS BIGINT) AS n_groups
       |FROM d JOIN f ON d.gkey = f.gkey
       |GROUP BY fold ORDER BY fold""".stripMargin
  }

  // ---------- q232: corpus release manifest ----------

  /** The RELEASE MANIFEST — the table a corpus version actually ships
    * with: round-12's curation rules composed end-to-end and rolled up
    * per (split, source). Near-dup clusters keep their HIGHEST-QUALITY
    * member (q220's rule, ties → min id — not q60's min-id pick), the
    * q61 quality verdict filters survivors, and the split is
    * LEAKAGE-FREE (q223's rule: the cluster's min-id label hashes, so
    * a cluster can never straddle train/val/test even before dedup is
    * applied). Output: docs and tokens per (split, source) — the
    * numbers a model card quotes. Complements q86 (the per-stage
    * funnel without splits) with the shipped cut.
    *
    * Scale shape: q86's composition argument verbatim — memberships
    * are bounded side tables (CC labels, per-cluster argmax) LEFT-
    * joined onto ONE full-text pass; the rollup is a (≤3·sources)-row
    * partial agg. The argmax is q220's single max(struct) per cluster.
    */
  def q232_release_manifest(spark: SparkSession, dir: String): DataFrame = {
    def bucketOf(c: Column): Column = {
      val h2 = substring(md5(concat(lit("split-1|"), c.cast("string"))), 1, 2)
      (instr(lit("0123456789abcdef"), substring(h2, 1, 1)) - 1) * 16 +
        (instr(lit("0123456789abcdef"), substring(h2, 2, 1)) - 1)
    }
    def splitOf(b: Column): Column =
      CorpusQueries.splitBuckets.reverse
        .foldLeft(lit(null).cast("string")) { case (acc, (name, ub)) =>
          when(b < ub, lit(name)).otherwise(acc)
        }
    val cc = TextQueries.dupClusters(spark, dir)
    val qm = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        floor(T.qualityScore(col("text")) * 1000000L).cast("long").as("qm"))
    val kept = cc.join(qm, cc("id") === qm("doc_id"))
      .groupBy(col("component"))
      .agg(max(struct(col("qm"), (-col("doc_id")).as("negid"))).as("best"))
      .select((-col("best.negid")).as("doc_id"), lit(1L).as("is_rep"))
    Tables.load(spark, dir, "documents")
      .withColumn("toks", T.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("lang_det", T.langId(col("toks")))
      .withColumn("quality", T.qualityScore(col("text")))
      .join(cc.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("is_rep").isNotNull)
      .filter(qualityKeep)
      .withColumn("split",
        splitOf(bucketOf(coalesce(col("component"), col("doc_id")))))
      .groupBy("split", "source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_tokens"))
      .orderBy("split", "source")
  }

  val q232_oracle: String = {
    val toks = T.tokensSql("text")
    def bucketSql(c: String): String =
      s"""((strpos('0123456789abcdef', substring(md5(concat('split-1|', CAST($c AS VARCHAR))), 1, 1)) - 1) * 16
         | + (strpos('0123456789abcdef', substring(md5(concat('split-1|', CAST($c AS VARCHAR))), 2, 1)) - 1))""".stripMargin
    def splitSql(c: String): String = CorpusQueries.splitBuckets
      .map { case (name, ub) => s"WHEN ${bucketSql(c)} < $ub THEN '$name'" }
      .mkString("CASE ", " ", " END")
    s"""WITH RECURSIVE pairs AS (${TextQueries.lshPairsSql}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       |lab AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       |m AS (
       |  SELECT lab.component, lab.id,
       |    CAST(floor(${T.qualityScoreSql("text")} * 1000000) AS BIGINT) AS qm
       |  FROM lab JOIN documents ON lab.id = doc_id),
       |best AS (SELECT component, max(qm) AS best_qm FROM m GROUP BY 1),
       |kept AS (
       |  SELECT m.component, min(m.id) AS doc_id
       |  FROM m JOIN best ON m.component = best.component
       |    AND m.qm = best.best_qm
       |  GROUP BY m.component),
       |d AS (
       |  SELECT doc_id, source, lab.component,
       |    CAST(len($toks) AS BIGINT) AS n_toks,
       |    ${T.langIdSql(toks)} AS lang_det,
       |    ${T.qualityScoreSql("text")} AS quality
       |  FROM documents LEFT JOIN lab ON doc_id = lab.id),
       |surv AS (
       |  SELECT d.*
       |  FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id
       |  WHERE (d.component IS NULL OR kept.doc_id IS NOT NULL)
       |    AND $qualityKeepSql)
       |SELECT ${splitSql("coalesce(component, doc_id)")} AS split, source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |FROM surv GROUP BY 1, 2 ORDER BY split, source""".stripMargin
  }

  // ---------- q228: largest-remainder shard apportionment ----------

  /** Output shards the writer fleet is divided into. */
  val apportionShards = 1024L

  /** Hamilton (largest-remainder) apportionment of the writer fleet:
    * q221 says how many tokens each source may contribute; this turns
    * that into the INTEGER shard plan — `apportionShards` output
    * shards split proportionally to the feasible allocation, floors
    * first, then one extra shard to the sources with the largest
    * remainder (ties → source name) until the total is exact. The
    * quota method is the one that never violates quota and cannot
    * suffer Alabama paradoxes within a fixed house size — and unlike
    * rounding, Σ shards = `apportionShards` ALWAYS holds, which is
    * what the downstream writer manifest requires.
    *
    * Scale shape: q221's one lowCard supply aggregate; everything
    * after is integer arithmetic and a window over ≤ |declared
    * sources| rows (all remainders share the denominator Σalloc, so
    * the largest-remainder comparison is exact integer, no fractions
    * materialized).
    */
  def q228_shard_apportion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = mixtureTargetPpm.foldLeft(lit(0L)) { case (acc, (s, p)) =>
      when(col("source") === s, lit(p)).otherwise(acc)
    }
    val supply = Tables.load(spark, dir, "documents")
      .filter(col("source").isin(mixtureTargetPpm.map(_._1): _*))
      .select(col("source"), size(T.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(sum(col("n")).cast("long").as("n_toks"))
      .withColumn("w_ppm", w)
    val cap = supply
      .agg(min(expr("(n_toks * 1000000) DIV w_ppm")).cast("long").as("t_max"))
    val alloc = supply.crossJoin(broadcast(cap))
      .withColumn("alloc_toks", expr("(w_ppm * t_max) DIV 1000000"))
      .select("source", "alloc_toks")
    val tot = alloc.agg(sum(col("alloc_toks")).cast("long").as("tot"))
    val based = alloc.crossJoin(broadcast(tot))
      .withColumn("base_shards", expr(s"(alloc_toks * $apportionShards) DIV tot"))
      .withColumn("rem_num", expr(s"(alloc_toks * $apportionShards) % tot"))
    val rTot = based
      .agg((lit(apportionShards) - sum(col("base_shards"))).cast("long").as("r"))
    based.crossJoin(broadcast(rTot))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem_num").desc, col("source").asc)).cast("long"))
      .withColumn("extra",
        when(col("rk") <= col("r"), lit(1L)).otherwise(lit(0L)))
      .withColumn("shards", col("base_shards") + col("extra"))
      .select("source", "alloc_toks", "base_shards", "rem_num", "extra",
        "shards")
      .orderBy("source")
  }

  val q228_oracle: String = {
    val toks = T.tokensSql("text")
    val wCase = mixtureTargetPpm
      .map { case (s, p) => s"WHEN source = '$s' THEN $p" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val srcs = mixtureTargetPpm.map(s => s"'${s._1}'").mkString(", ")
    s"""WITH supply AS (
       |  SELECT source, CAST(sum(len($toks)) AS BIGINT) AS n_toks,
       |    CAST(($wCase) AS BIGINT) AS w_ppm
       |  FROM documents WHERE source IN ($srcs)
       |  GROUP BY source),
       |cap AS (
       |  SELECT CAST(min((n_toks * 1000000) // w_ppm) AS BIGINT) AS t_max
       |  FROM supply),
       |alloc AS (
       |  SELECT source, CAST((w_ppm * t_max) // 1000000 AS BIGINT) AS alloc_toks
       |  FROM supply CROSS JOIN cap),
       |tot AS (SELECT CAST(sum(alloc_toks) AS BIGINT) AS tot FROM alloc),
       |based AS (
       |  SELECT source, alloc_toks,
       |    CAST((alloc_toks * $apportionShards) // tot AS BIGINT) AS base_shards,
       |    CAST((alloc_toks * $apportionShards) % tot AS BIGINT) AS rem_num
       |  FROM alloc CROSS JOIN tot),
       |r AS (
       |  SELECT CAST($apportionShards - sum(base_shards) AS BIGINT) AS r
       |  FROM based),
       |rk AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY rem_num DESC, source ASC)
       |    AS BIGINT) AS rk
       |  FROM based)
       |SELECT source, alloc_toks, base_shards, rem_num,
       |  CAST(CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT) AS extra,
       |  CAST(base_shards + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
       |    AS shards
       |FROM rk CROSS JOIN r ORDER BY source""".stripMargin
  }

  // ---------- q223: leakage-free (cluster-aware) split ----------

  /** Near-dup-aware train/val/test split: a document's split is
    * decided by the content hash of its near-dup CLUSTER
    * representative, not its own id — so every member of a cluster
    * lands in the same split and eval can never see a near-copy of a
    * training document (the leakage q78's per-doc rule permits; q78
    * itself documents "dedup first" as the composition contract —
    * this operator removes the footgun instead). Same salt, bucket
    * map, and 80/10/10 thresholds as q78, so the two splits are
    * directly comparable: `n_moved` counts the documents whose q78
    * split would have DIFFERED — exactly the leakage surface closed.
    *
    * Scale shape: clusters from the stored-signature LSH + CC
    * machinery (pair vertices only); the corpus joins the vertex-sized
    * label table once on doc id (AQE broadcasts it while it fits,
    * shuffles when the corpus is duplicate-heavy); the rollup is one
    * ≤3-row partial agg. `n_groups` (distinct representatives) is the
    * effective sample count an eval-set power analysis needs.
    */
  def q223_leakage_free_split(spark: SparkSession, dir: String): DataFrame = {
    def bucketOf(c: Column): Column = {
      val h2 = substring(md5(concat(lit("split-1|"), c.cast("string"))), 1, 2)
      (instr(lit("0123456789abcdef"), substring(h2, 1, 1)) - 1) * 16 +
        (instr(lit("0123456789abcdef"), substring(h2, 2, 1)) - 1)
    }
    def splitOf(b: Column): Column =
      CorpusQueries.splitBuckets.reverse
        .foldLeft(lit(null).cast("string")) { case (acc, (name, ub)) =>
          when(b < ub, lit(name)).otherwise(acc)
        }
    val cc = TextQueries.dupClusters(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("tok"))
    docs.join(cc, docs("doc_id") === cc("id"), "left")
      .withColumn("rep", coalesce(col("component"), col("doc_id")))
      .withColumn("split", splitOf(bucketOf(col("rep"))))
      .withColumn("naive", splitOf(bucketOf(col("doc_id"))))
      .groupBy("split")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("tok")).cast("long").as("n_tokens"),
        count_if(col("naive") =!= col("split")).cast("long").as("n_moved"),
        countDistinct(col("rep")).cast("long").as("n_groups"))
      .orderBy("split")
  }

  val q223_oracle: String = {
    def bucketSql(c: String): String =
      s"""((strpos('0123456789abcdef', substring(md5(concat('split-1|', CAST($c AS VARCHAR))), 1, 1)) - 1) * 16
         | + (strpos('0123456789abcdef', substring(md5(concat('split-1|', CAST($c AS VARCHAR))), 2, 1)) - 1))""".stripMargin
    def splitSql(c: String): String = CorpusQueries.splitBuckets
      .map { case (name, ub) => s"WHEN ${bucketSql(c)} < $ub THEN '$name'" }
      .mkString("CASE ", " ", " END")
    s"""WITH RECURSIVE pairs AS (${TextQueries.lshPairsSql}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u AS id, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       |lab AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       |d AS (
       |  SELECT doc_id, CAST(len(${T.tokensSql("text")}) AS BIGINT) AS tok,
       |    coalesce(lab.component, doc_id) AS rep
       |  FROM documents LEFT JOIN lab ON doc_id = lab.id),
       |s AS (
       |  SELECT ${splitSql("rep")} AS split, ${splitSql("doc_id")} AS naive,
       |    rep, tok
       |  FROM d)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (WHERE naive <> split) AS BIGINT) AS n_moved,
       |  CAST(count(DISTINCT rep) AS BIGINT) AS n_groups
       |FROM s GROUP BY split ORDER BY split""".stripMargin
  }

  // ---------- q216: multi-epoch shuffle schedule ----------

  /** Multi-epoch training schedule: each epoch is a DETERMINISTIC
    * seedless global permutation of the corpus — position = exact
    * rank of a salted content hash (salt = epoch number), so epoch 2
    * is a genuinely different order than epoch 1, both reproducible
    * from doc ids alone (no RNG state to persist — the q33/q148
    * content-hash rule applied to epoch ordering). Output: each
    * document's position in both epochs plus the inter-epoch drift,
    * the table a data-loader materializes per epoch.
    *
    * Scale shape: BOTH epoch ranks come from ONE fused
    * [[graft.operators.RangeRank.rankMulti]] call — one shared
    * boundary probe (two-column approxQuantile) + one grouping-sets
    * offset pass + two bucket-local windows. No global sort tasks,
    * no RNG, no driver state.
    */
  def q216_epoch_schedule(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    def hord(e: Int) =
      conv(substring(md5(concat(lit(s"ep$e|"), col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long")
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("h1", hord(1))
      .withColumn("h2", hord(2))
    RangeRank.rankMulti(base, Nil, Seq(
        RangeRank.Spec(Seq(RangeRank.Key("h1"), RangeRank.Key("doc_id")),
          "pos1", "__n1"),
        RangeRank.Spec(Seq(RangeRank.Key("h2"), RangeRank.Key("doc_id")),
          "pos2", "__n2")))
      .withColumn("drift", abs(col("pos1") - col("pos2")))
      // text_chars pins each schedule row to its document's CONTENT —
      // the permutation itself is a pure function of ids
      .select(col("doc_id"), col("source"), col("pos1"), col("pos2"),
        col("drift"), length(col("text")).as("text_chars"))
      .orderBy("doc_id")
  }

  val q216_oracle: String =
    s"""SELECT doc_id, source,
       |  CAST(row_number() OVER (ORDER BY
       |    substring(md5(concat('ep1|', CAST(doc_id AS VARCHAR))), 1, 8),
       |    doc_id) AS BIGINT) AS pos1,
       |  CAST(row_number() OVER (ORDER BY
       |    substring(md5(concat('ep2|', CAST(doc_id AS VARCHAR))), 1, 8),
       |    doc_id) AS BIGINT) AS pos2,
       |  CAST(abs(CAST(row_number() OVER (ORDER BY
       |      substring(md5(concat('ep1|', CAST(doc_id AS VARCHAR))), 1, 8),
       |      doc_id) AS BIGINT)
       |    - CAST(row_number() OVER (ORDER BY
       |      substring(md5(concat('ep2|', CAST(doc_id AS VARCHAR))), 1, 8),
       |      doc_id) AS BIGINT)) AS BIGINT) AS drift,
       |  length(text) AS text_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- q225: context-length packing sweep ----------

  /** Candidate context-window sizes the sweep prices. */
  val packSweepCaps: Seq[Int] = Seq(512, 1024, 2048, 4096)

  /** Context-length PLANNING report: q77 executes one packing at one
    * budget; this prices the budget DECISION — for each candidate
    * window size, the exact shard-tail padding waste (concat-and-chunk
    * wastes tokens only where a shard's stream ends mid-window) and
    * the exact count of documents SPLIT across a window boundary (the
    * training-quality cost of long contexts: a split doc loses
    * cross-boundary attention). Waste falls and splits rise with the
    * cap — this table is where those two curves cross for this corpus,
    * the number a pretraining config locks before the tokenizer fleet
    * runs.
    *
    * Scale shape: ONE corpus scan builds q77's per-doc (shard,
    * start_tok) rows (the same shard-bounded window — no global sort);
    * all four caps' split flags are computed as columns in that single
    * projection (integer DIVs), so the corpus is NOT fanned out
    * per-cap; the cap axis explodes only at the (source, shard)
    * aggregate level (shards × 4 narrow rows) before a ≤4-row rollup.
    */
  def q225_packing_sweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = expr(s"doc_id div $packShardDocs")
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDoc = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), shard.as("shard"),
        size(T.tokens(col("text"))).cast("long").as("tok"))
      .withColumn("start_tok", sum(col("tok")).over(w) - col("tok"))
    val splitFlags = packSweepCaps.map(c =>
      when(col("tok") > 0 &&
          expr(s"start_tok div $c") =!= expr(s"(start_tok + tok - 1) div $c"),
        lit(1L)).otherwise(lit(0L)).as(s"sp$c"))
    val shardAggs: Seq[org.apache.spark.sql.Column] =
      sum(col("tok")).as("shard_tok") +:
        count(lit(1)).cast("long").as("n_docs") +:
        packSweepCaps.map(c => sum(col(s"sp$c")).as(s"sp$c"))
    val perShard = perDoc
      .select(col("source") +: col("shard") +: col("tok") +: splitFlags: _*)
      .groupBy("source", "shard")
      .agg(shardAggs.head, shardAggs.tail: _*)
    val byCap = perShard.select(col("shard_tok"), col("n_docs"),
      explode(array(packSweepCaps.map(c => struct(
        lit(c.toLong).as("cap"), col(s"sp$c").as("n_split"))): _*)).as("x"))
      .select(col("x.cap"), col("shard_tok"), col("n_docs"), col("x.n_split"))
      .withColumn("windows",
        when(col("shard_tok") > 0,
          expr("(shard_tok + cap - 1) div cap")).otherwise(lit(0L)))
    byCap.groupBy("cap")
      .agg(sum(col("windows")).cast("long").as("n_windows"),
        sum(col("shard_tok")).cast("long").as("n_tokens"),
        (sum(col("windows") * col("cap")) - sum(col("shard_tok")))
          .cast("long").as("padded_tokens"),
        sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_split")).cast("long").as("n_split_docs"))
      .withColumn("waste_ppm",
        expr("padded_tokens * 1000000 DIV (n_tokens + padded_tokens)"))
      .withColumn("split_ppm", expr("n_split_docs * 1000000 DIV n_docs"))
      .select("cap", "n_windows", "n_tokens", "padded_tokens", "waste_ppm",
        "n_split_docs", "split_ppm")
      .orderBy("cap")
  }

  val q225_oracle: String = {
    val toks = T.tokensSql("text")
    val caps = packSweepCaps.mkString("[", ", ", "]")
    s"""WITH d AS (
       |  SELECT source, doc_id // $packShardDocs AS shard, doc_id,
       |    CAST(len($toks) AS BIGINT) AS tok
       |  FROM documents),
       |s AS (
       |  SELECT source, shard, tok,
       |    sum(tok) OVER (PARTITION BY source, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
       |      AS start_tok
       |  FROM d),
       |x AS (SELECT CAST(unnest($caps) AS BIGINT) AS cap),
       |per AS (
       |  SELECT x.cap, source, shard,
       |    CAST(sum(tok) AS BIGINT) AS shard_tok,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(*) FILTER (WHERE tok > 0
       |      AND start_tok // x.cap <> (start_tok + tok - 1) // x.cap)
       |      AS BIGINT) AS n_split
       |  FROM s CROSS JOIN x
       |  GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT cap,
       |    CAST(sum(CASE WHEN shard_tok > 0
       |      THEN (shard_tok + cap - 1) // cap ELSE 0 END) AS BIGINT)
       |      AS n_windows,
       |    CAST(sum(shard_tok) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN shard_tok > 0
       |      THEN ((shard_tok + cap - 1) // cap) * cap - shard_tok
       |      ELSE 0 END) AS BIGINT) AS padded_tokens,
       |    CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |    CAST(sum(n_split) AS BIGINT) AS n_split_docs
       |  FROM per GROUP BY cap)
       |SELECT cap, n_windows, n_tokens, padded_tokens,
       |  CAST(padded_tokens * 1000000 // (n_tokens + padded_tokens)
       |    AS BIGINT) AS waste_ppm,
       |  n_split_docs,
       |  CAST(n_split_docs * 1000000 // n_docs AS BIGINT) AS split_ppm
       |FROM agg ORDER BY cap""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q225_packing_sweep" -> (q225_packing_sweep _),
    "q228_shard_apportion" -> (q228_shard_apportion _),
    "q232_release_manifest" -> (q232_release_manifest _),
    "q234_crossval_folds" -> (q234_crossval_folds _),
    "q216_epoch_schedule" -> (q216_epoch_schedule _),
    "q223_leakage_free_split" -> (q223_leakage_free_split _),
    "q220_canonical_rep" -> (q220_canonical_rep _),
    "q221_mixture_feasibility" -> (q221_mixture_feasibility _),
    "q175_quota_sample" -> (q175_quota_sample _),
    "q212_dedup_token_budget" -> (q212_dedup_token_budget _),
    "q244_dup_quality_corr" -> (q244_dup_quality_corr _),
    "q148_interleave" -> (q148_interleave _),
    "q132_dsir" -> (q132_dsir _),
    "q86_curation_e2e" -> (q86_curation_e2e _),
    "q276_declared_curation" -> (CurationFlow.q276_declared_curation _),
    "q288_declared_curation_multi" -> (CurationFlow.q288_declared_curation_multi _),
    "q289_declared_curation_sampling" -> (CurationFlow.q289_declared_curation_sampling _),
    "q291_declared_curation_budget" -> (CurationFlow.q291_declared_curation_budget _),
    "q292_declared_curation_stream" -> (CurationFlow.q292_declared_curation_stream _),
    "q297_declared_curation_sinks" -> (CurationFlow.q297_declared_curation_sinks _),
    "q298_declared_stream_neardup" -> (CurationFlow.q298_declared_stream_neardup _),
    "q299_declared_sinks_multi" -> (CurationFlow.q299_declared_sinks_multi _),
    "q300_declared_stream_sinks" -> (CurationFlow.q300_declared_stream_sinks _),
    "q307_declared_attrition" -> (CurationFlow.q307_declared_attrition _),
    "q310_declared_attrition_budget" -> (CurationFlow.q310_declared_attrition_budget _),
    "q313_declared_full_grammar" -> (CurationFlow.q313_declared_full_grammar _),
    "q314_declared_stream_attrition" -> (CurationFlow.q314_declared_stream_attrition _),
    // q323 rows-only: the semantic memberships are q87's trained
    // floats (oracleSql refuses the render); Round17OpsSpec pins the
    // funnel against an independent hand-composed stack
    "q323_declared_semantic" -> (CurationFlow.q323_declared_semantic _),
    // q326 rows-only like q323 (same refused oracle); spec-pinned
    // stream == batch
    "q326_declared_stream_semantic" -> (CurationFlow.q326_declared_stream_semantic _),
    "q327_declared_mask" -> (CurationFlow.q327_declared_mask _),
    "q328_declared_stream_mask" -> (CurationFlow.q328_declared_stream_mask _),
    "q329_declared_scrub" -> (CurationFlow.q329_declared_scrub _),
    "q330_declared_containment" -> (CurationFlow.q330_declared_containment _),
    "q331_declared_grammar_all" -> (CurationFlow.q331_declared_grammar_all _),
    "q332_declared_grammar_attrition" -> (CurationFlow.q332_declared_grammar_attrition _),
    "q77_sequence_pack" -> (q77_sequence_pack _),
    "q60_dedup_apply" -> (q60_dedup_apply _),
    "q61_quality_filter" -> (q61_quality_filter _),
    "q63_token_budget" -> (q63_token_budget _),
    "q64_oov_rate" -> (q64_oov_rate _),
    "q67_decontaminate" -> (q67_decontaminate _),
    "q68_source_overlap" -> (q68_source_overlap _),
    "q111_weighted_sample" -> (q111_weighted_sample _))

  val oracles: Map[String, String] = Map(
    "q244_dup_quality_corr" -> q244_oracle,
    "q225_packing_sweep" -> q225_oracle,
    "q228_shard_apportion" -> q228_oracle,
    "q232_release_manifest" -> q232_oracle,
    "q234_crossval_folds" -> q234_oracle,
    "q216_epoch_schedule" -> q216_oracle,
    "q223_leakage_free_split" -> q223_oracle,
    "q220_canonical_rep" -> q220_oracle,
    "q221_mixture_feasibility" -> q221_oracle,
    "q175_quota_sample" -> q175_oracle,
    "q212_dedup_token_budget" -> q212_oracle,
    "q148_interleave" -> q148_oracle,
    "q132_dsir" -> q132_oracle,
    "q86_curation_e2e" -> q86_oracle,
    "q276_declared_curation" -> CurationFlow.q276_oracle,
    "q288_declared_curation_multi" -> CurationFlow.q288_oracle,
    "q289_declared_curation_sampling" -> CurationFlow.q289_oracle,
    "q291_declared_curation_budget" -> CurationFlow.q291_oracle,
    "q292_declared_curation_stream" -> CurationFlow.q292_oracle,
    "q297_declared_curation_sinks" -> CurationFlow.q297_oracle,
    "q298_declared_stream_neardup" -> CurationFlow.q298_oracle,
    "q299_declared_sinks_multi" -> CurationFlow.q299_oracle,
    "q300_declared_stream_sinks" -> CurationFlow.q300_oracle,
    "q307_declared_attrition" -> CurationFlow.q307_oracle,
    "q310_declared_attrition_budget" -> CurationFlow.q310_oracle,
    "q313_declared_full_grammar" -> CurationFlow.q313_oracle,
    "q314_declared_stream_attrition" -> CurationFlow.q314_oracle,
    "q327_declared_mask" -> CurationFlow.q327_oracle,
    "q328_declared_stream_mask" -> CurationFlow.q328_oracle,
    "q329_declared_scrub" -> CurationFlow.q329_oracle,
    "q330_declared_containment" -> CurationFlow.q330_oracle,
    "q331_declared_grammar_all" -> CurationFlow.q331_oracle,
    "q332_declared_grammar_attrition" -> CurationFlow.q332_oracle,
    "q77_sequence_pack" -> q77_oracle,
    "q60_dedup_apply" -> q60_oracle,
    "q61_quality_filter" -> q61_oracle,
    "q63_token_budget" -> q63_oracle,
    "q64_oov_rate" -> q64_oracle,
    "q67_decontaminate" -> q67_oracle,
    "q68_source_overlap" -> q68_oracle,
    "q111_weighted_sample" -> q111_oracle)
}
