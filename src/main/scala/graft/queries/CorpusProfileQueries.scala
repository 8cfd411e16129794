package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 corpus-profiling additions (SURVEY §2 #245–#248): the
  * remaining text screens a training-data pipeline runs before
  * mixing — exact-prefix dedup (shared boilerplate headers), the
  * Zipf head report (rank×frequency — the log-free fit check), the
  * type-token-ratio curve (lexical diversity at fixed prefix sizes),
  * and the suffix→prefix boundary join (document concatenation /
  * split artifacts).
  *
  * Determinism policy (SURVEY §4): md5 everywhere, integer DIV
  * ratios, ties broken by token/doc_id — bit-identical to DuckDB.
  */
object CorpusProfileQueries extends graft.QueryFamily {

  // ---------- q245: exact-prefix dedup ----------

  /** Prefix length in tokens. */
  val prefixP = 8

  /** Documents opening with the SAME first [[prefixP]] tokens —
    * boilerplate headers (licence blocks, scraped nav bars) that
    * exact whole-text dedup misses because the bodies differ. Per
    * shared prefix: the cluster size, representative (min doc_id),
    * distinct sources, and the total tokens behind it.
    *
    * Scale shape: the prefix hash is a narrow per-row projection (no
    * explode); one hash-keyed partial aggregation; the ≥2 filter
    * happens in the aggregate (HAVING). Nothing pairwise.
    */
  def q245_prefix_dedup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), T.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= prefixP)
      .select(col("doc_id"), col("source"), size(col("tk")).cast("long").as("n_toks"),
        md5(concat_ws(" ", slice(col("tk"), 1, prefixP))).as("prefix_h"))
      .groupBy("prefix_h")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("doc_id")).as("rep_doc_id"),
        count_distinct(col("source")).as("n_sources"),
        sum(col("n_toks")).cast("long").as("total_tokens"))
      .filter(col("n_docs") >= 2)
      .orderBy("rep_doc_id")

  val q245_oracle: String = {
    val tk = T.tokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, source, $tk AS tk FROM documents),
       |p AS (
       |  SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_toks,
       |    md5(array_to_string(tk[1:$prefixP], ' ')) AS prefix_h
       |  FROM t WHERE len(tk) >= $prefixP)
       |SELECT prefix_h, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(doc_id) AS rep_doc_id,
       |  count(DISTINCT source) AS n_sources,
       |  CAST(sum(n_toks) AS BIGINT) AS total_tokens
       |FROM p GROUP BY prefix_h HAVING count(*) >= 2
       |ORDER BY rep_doc_id""".stripMargin
  }

  // ---------- q246: Zipf head report ----------

  /** Head size. */
  val zipfK = 50

  /** The top-[[zipfK]] corpus tokens with the log-free Zipf fit
    * check: under Zipf's law rank × frequency is ~constant, so the
    * report carries the exact `rank_freq` product and each token's
    * frequency as ppm of the top token — integers a drift monitor
    * can diff across corpus versions without a float log anywhere.
    *
    * Scale shape: one token-keyed partial aggregation (the q35
    * vocabulary shuffle), then TakeOrdered for the top-K (never a
    * global sort); the rank window runs over the 50-row LIMIT result
    * (statically bounded input).
    */
  def q246_zipf_head(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(T.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).cast("long").as("freq"))
    val top = vocab.orderBy(col("freq").desc, col("token")).limit(zipfK)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("token")))
          .cast("long"))
      .withColumn("top_freq", max(col("freq")).over(Window.partitionBy()))
      .select(col("rank"), col("token"), col("freq"),
        (col("rank") * col("freq")).as("rank_freq"),
        expr("(freq * 1000000) DIV top_freq").as("ppm_of_top"))
      .orderBy("rank")
  }

  val q246_oracle: String = {
    val tk = T.tokensSql("text")
    s"""WITH v AS (
       |  SELECT t.token, CAST(count(*) AS BIGINT) AS freq
       |  FROM documents, unnest($tk) AS t(token)
       |  GROUP BY t.token),
       |top AS (
       |  SELECT token, freq FROM v ORDER BY freq DESC, token LIMIT $zipfK),
       |r AS (
       |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
       |      AS rank,
       |    token, freq, CAST(max(freq) OVER () AS BIGINT) AS top_freq
       |  FROM top)
       |SELECT rank, token, freq,
       |  CAST(rank * freq AS BIGINT) AS rank_freq,
       |  CAST((freq * 1000000) // top_freq AS BIGINT) AS ppm_of_top
       |FROM r ORDER BY rank""".stripMargin
  }

  // ---------- q247: type-token-ratio curve ----------

  /** Prefix sizes for the TTR curve. */
  val ttrNs: Seq[Int] = Seq(50, 100, 200)

  /** Lexical diversity per source at fixed prefix sizes: for each
    * N in [[ttrNs]], over documents with ≥ N tokens, the summed
    * distinct-token count of each document's first N tokens, and the
    * exact pooled TTR in ppm (Σ distinct / (N · docs)). Fixed-N
    * prefixes make TTR comparable across documents of different
    * lengths — the standard correction for TTR's length bias.
    *
    * Scale shape: all three N are computed in ONE scan as narrow
    * array expressions (slice + array_distinct — no explode), one
    * per-source partial aggregation, then a 3-way bounded unpivot of
    * the aggregate row (|sources| × 3 output rows).
    */
  def q247_ttr_curve(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("source"), T.tokens(col("text")).as("tk"))
    val withN = ttrNs.foldLeft(base) { (d, n) =>
      d.withColumn(s"d$n",
        when(size(col("tk")) >= n,
          size(array_distinct(slice(col("tk"), 1, n))).cast("long")))
    }
    val agg = withN.groupBy("source")
      .agg(
        ttrNs.flatMap(n => Seq(
          count(col(s"d$n")).cast("long").as(s"n$n"),
          coalesce(sum(col(s"d$n")), lit(0L)).cast("long").as(s"s$n"))).head,
        ttrNs.flatMap(n => Seq(
          count(col(s"d$n")).cast("long").as(s"n$n"),
          coalesce(sum(col(s"d$n")), lit(0L)).cast("long").as(s"s$n"))).tail: _*)
    val legs = ttrNs.map(n =>
      agg.select(col("source"), lit(n).cast("long").as("prefix_n"),
        col(s"n$n").as("n_docs"), col(s"s$n").as("distinct_sum"),
        when(col(s"n$n") > 0,
          expr(s"(s$n * 1000000) DIV (${n}L * n$n)")).otherwise(lit(0L))
          .as("ttr_ppm")))
    legs.reduce(_ unionAll _).orderBy("source", "prefix_n")
  }

  val q247_oracle: String = {
    val tk = T.tokensSql("text")
    val legs = ttrNs.map { n =>
      s"""SELECT source, CAST($n AS BIGINT) AS prefix_n,
         |  CAST(count(d) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(d), 0) AS BIGINT) AS distinct_sum,
         |  CASE WHEN count(d) > 0 THEN
         |    CAST((sum(d) * 1000000) // ($n * count(d))AS BIGINT)
         |  ELSE 0 END AS ttr_ppm
         |FROM (
         |  SELECT source,
         |    CASE WHEN len(tk) >= $n
         |      THEN CAST(len(list_distinct(tk[1:$n])) AS BIGINT) END AS d
         |  FROM (SELECT source, $tk AS tk FROM documents))
         |GROUP BY source""".stripMargin
    }
    legs.mkString("", "\nUNION ALL\n", "\nORDER BY source, prefix_n")
  }

  // ---------- q248: suffix->prefix boundary join ----------

  /** Boundary shingle width (tokens). */
  val boundaryB = 4

  /** Hot-boundary cutoff: boundary hashes seen more than this many
    * times on either side are boilerplate (e.g. a common closing
    * phrase) and are dropped before the pair join — the q72/q218
    * rare-first rule that bounds the join fanout. */
  val boundaryDfCut = 16L

  /** Concatenation/split artifact candidates: document A's LAST
    * [[boundaryB]] tokens equal document B's FIRST [[boundaryB]]
    * tokens — the signature a document splitter leaves when it cuts
    * mid-passage (A's tail continues as B's head). Only documents
    * with ≥ 2·B tokens participate (head and tail must not overlap).
    *
    * Scale shape: head/tail hashes are narrow projections; the join
    * is hash-keyed tail→head after the hot-boundary cutoff bounds
    * per-key fanout; output is pair rows only. No broadcast hints.
    */
  def q248_boundary_join(spark: SparkSession, dir: String): DataFrame = {
    val b = boundaryB
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2 * b)
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("tk"), 1, b))).as("head_h"),
        md5(concat_ws(" ", slice(col("tk"), -b, b))).as("tail_h"))
    val hotHeads = base.groupBy(col("head_h").as("hh")).count()
      .filter(col("count") > boundaryDfCut).select("hh")
    val hotTails = base.groupBy(col("tail_h").as("th")).count()
      .filter(col("count") > boundaryDfCut).select("th")
    val heads = base.select(col("doc_id").as("b_id"), col("head_h"))
      .join(hotHeads, col("head_h") === col("hh"), "left_anti")
    val tails = base.select(col("doc_id").as("a_id"), col("tail_h"))
      .join(hotTails, col("tail_h") === col("th"), "left_anti")
    tails.join(heads, col("tail_h") === col("head_h"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("tail_h").as("boundary_h"))
      .orderBy("a_id", "b_id")
  }

  val q248_oracle: String = {
    val tk = T.tokensSql("text")
    val b = boundaryB
    s"""WITH t AS (
       |  SELECT doc_id, $tk AS tk FROM documents),
       |e AS (
       |  SELECT doc_id,
       |    md5(array_to_string(tk[1:$b], ' ')) AS head_h,
       |    md5(array_to_string(tk[(len(tk)-${b - 1}):len(tk)], ' ')) AS tail_h
       |  FROM t WHERE len(tk) >= ${2 * b}),
       |hh AS (SELECT head_h FROM e GROUP BY head_h
       |  HAVING count(*) > $boundaryDfCut),
       |ht AS (SELECT tail_h FROM e GROUP BY tail_h
       |  HAVING count(*) > $boundaryDfCut),
       |heads AS (SELECT doc_id AS b_id, head_h FROM e
       |  WHERE head_h NOT IN (SELECT head_h FROM hh)),
       |tails AS (SELECT doc_id AS a_id, tail_h FROM e
       |  WHERE tail_h NOT IN (SELECT tail_h FROM ht))
       |SELECT a_id, b_id, tail_h AS boundary_h
       |FROM tails JOIN heads ON tail_h = head_h
       |WHERE a_id <> b_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q268: Heaps-law vocabulary-growth curve ----------

  /** Vocabulary growth vs corpus growth at decile grain (Heaps' law
    * V ≈ K·n^β — the curve that predicts tokenizer-vocab coverage of
    * a LARGER crawl from a prefix): walking the corpus in doc_id
    * order, after each 10% of documents the cumulative token
    * occurrences and cumulative DISTINCT vocabulary. The key identity
    * that keeps this one-pass: vocabulary at prefix p counts tokens
    * whose FIRST-occurrence rank ≤ p — so one token-keyed min over an
    * exploded scan replaces ten distinct-counts over growing prefixes.
    *
    * Scale shape: the global doc rank rides `RangeRank` (never a
    * single-task sort); each doc and each token maps to its FIRST
    * decile by pure arithmetic (`(10r + D − 1) DIV D` — no 10×
    * range-join blowup); the report is a 10-row axis with cumulative
    * windows over it (decile domain, allowlisted).
    */
  def q268_heaps_curve(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    import org.apache.spark.sql.expressions.Window
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n_toks"))
    val ranked = RangeRank.rank(base, Nil,
      Seq(RangeRank.Key("doc_id")), "r", "__n")
    val d1 = ranked.select(col("r"), col("tk"), col("n_toks"), col("__n").as("n_docs_total"))
    // first decile each doc belongs to: smallest d with (d*D) DIV 10 >= r
    val docDecile = d1.withColumn("decile",
      least(expr("(10 * r + n_docs_total - 1) DIV n_docs_total"), lit(10L)))
    val occ = docDecile.groupBy("decile")
      .agg(sum(col("n_toks")).cast("long").as("occ_delta"),
        max(col("n_docs_total")).as("n_docs_total"))
    val vocab = docDecile
      .select(col("decile"), explode(col("tk")).as("tok"))
      .groupBy("tok").agg(min(col("decile")).as("decile"))
      .groupBy("decile").agg(count(lit(1)).cast("long").as("vocab_delta"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ.join(vocab, Seq("decile"), "left")
      .na.fill(0L, Seq("vocab_delta"))
      .withColumn("n_occurrences", sum(col("occ_delta")).over(wCum).cast("long"))
      .withColumn("vocabulary", sum(col("vocab_delta")).over(wCum).cast("long"))
      .select(col("decile"),
        expr("(decile * n_docs_total) DIV 10").cast("long").as("n_docs"),
        col("n_occurrences"), col("vocabulary"))
      .orderBy("decile")
  }

  val q268_oracle: String = {
    val tk = T.tokensSql("text")
    s"""WITH dr AS (
       |  SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r,
       |    $tk AS tk
       |  FROM documents),
       |dd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |docb AS (
       |  SELECT least((10 * r + n - 1) // n, 10) AS decile,
       |    CAST(len(tk) AS BIGINT) AS n_toks, n
       |  FROM dr CROSS JOIN dd),
       |occ AS (SELECT decile, CAST(sum(n_toks) AS BIGINT) AS occ_delta,
       |          max(n) AS n_docs_total
       |        FROM docb GROUP BY decile),
       |tok AS (
       |  SELECT tok, min(decile) AS decile FROM (
       |    SELECT least((10 * r + n - 1) // n, 10) AS decile, unnest(tk) AS tok
       |    FROM dr CROSS JOIN dd)
       |  GROUP BY tok),
       |vb AS (SELECT decile, CAST(count(*) AS BIGINT) AS vocab_delta
       |       FROM tok GROUP BY decile)
       |SELECT occ.decile,
       |  CAST((occ.decile * n_docs_total) // 10 AS BIGINT) AS n_docs,
       |  CAST(sum(occ_delta) OVER (ORDER BY occ.decile
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_occurrences,
       |  CAST(sum(coalesce(vocab_delta, 0)) OVER (ORDER BY occ.decile
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocabulary
       |FROM occ LEFT JOIN vb ON vb.decile = occ.decile
       |ORDER BY occ.decile""".stripMargin
  }

  // ---------- q273: cross-source vocabulary overlap ----------

  /** VOCABULARY Jaccard between every source pair — the lexical
    * cousin of q68/q270's document-level overlap (two sources can
    * share no documents yet write in the same register, or share
    * boilerplate docs while their vocabularies barely touch; mixture
    * design reads both). Exact set algebra throughout: per-source
    * vocabulary sizes, pairwise intersection via ONE token-keyed
    * self-join of the distinct (source, token) table, union by
    * inclusion–exclusion, jaccard in ppm by the DIV recipe.
    *
    * Scale shape: the (source, token) table is vocabulary-sized (one
    * explode + distinct); the self-join's per-token fanout is bounded
    * by \|sources\|² — never corpus-pairwise; the report is
    * ≤\|sources\|²/2 rows. Zero-overlap pairs stay absent (sparse
    * matrix — same contract as the oracle).
    */
  def q273_vocab_overlap(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
      .distinct()
    val sizes = st.groupBy("source")
      .agg(count(lit(1)).cast("long").as("vocab"))
    val inter = st.as("a").join(st.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
    inter
      .join(sizes.select(col("source").as("source_a"), col("vocab").as("vocab_a")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("vocab").as("vocab_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"),
        col("n_common"),
        expr("(n_common * 1000000) DIV (vocab_a + vocab_b - n_common)")
          .as("jaccard_ppm"))
      .orderBy("source_a", "source_b")
  }

  val q273_oracle: String = {
    val tk = T.tokensSql("text")
    s"""WITH st AS (
       |  SELECT DISTINCT source, unnest($tk) AS tok FROM documents),
       |sizes AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM st GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_common
       |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b,
       |  n_common,
       |  (n_common * 1000000) // (sa.vocab + sb.vocab - n_common) AS jaccard_ppm
       |FROM inter
       |JOIN sizes sa ON sa.source = source_a
       |JOIN sizes sb ON sb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin
  }

  // ---------- q283: per-source language-metadata trust ----------

  /** Which source's declared language metadata can be TRUSTED — the
    * per-source audit behind q20/q155 (q155 evaluates the DETECTOR
    * against declared truth corpus-wide; this flips the lens and
    * profiles each source's declared labels against the detector): per
    * source the match / abstention ('und') / active-mismatch split and
    * the mismatch rate in exact ppm. A source whose rate spikes is a
    * scraper writing wrong metadata — exclude or re-tag before
    * mixing (the q36/q131 mixture weights key on these labels).
    *
    * Scale shape: ONE narrow detector scan (q20's native expression)
    * into a |sources|-bounded rollup; no join, no explode survives the
    * aggregate.
    */
  def q283_lang_trust(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("lang"),
        T.langId(T.tokens(col("text"))).as("det"))
      .groupBy("source")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        count_if(col("det") === col("lang")).cast("long").as("n_match"),
        count_if(col("det") === "und").cast("long").as("n_und"),
        count_if(col("det") =!= col("lang") && col("det") =!= "und")
          .cast("long").as("n_mismatch"))
      .withColumn("mismatch_ppm", expr("(n_mismatch * 1000000) DIV n_docs"))
      .orderBy("source")

  val q283_oracle: String = {
    val det = T.langIdSql(T.tokensSql("text"))
    s"""SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(*) FILTER (WHERE det = lang) AS BIGINT) AS n_match,
       |  CAST(count(*) FILTER (WHERE det = 'und') AS BIGINT) AS n_und,
       |  CAST(count(*) FILTER (WHERE det <> lang AND det <> 'und') AS BIGINT)
       |    AS n_mismatch,
       |  CAST((count(*) FILTER (WHERE det <> lang AND det <> 'und'))
       |    * 1000000 // count(*) AS BIGINT) AS mismatch_ppm
       |FROM (SELECT source, lang, $det AS det FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q284: per-source stopword-density profile ----------

  /** Per-source function-word density — the corpus-level register
    * profile (running text sits near ~40% English stopwords; tables,
    * code, and keyword-stuffed spam sit far below): total tokens,
    * English-stopword tokens, and the density in exact ppm. The
    * per-DOC version is one term inside q21's composite score; the
    * per-SOURCE aggregate is what mixture design actually reads
    * (source register, not document quality).
    *
    * Scale shape: stopword counting is a per-row array filter inside
    * the token scan (NO explode — the corpus never becomes one row
    * per token), then a |sources|-bounded partial-agg rollup. The ·10⁶
    * product rides the sums after aggregation in DECIMAL(38,0) —
    * n_stop is a TOKEN-scale per-source sum, so an int64 ·10⁶ product
    * would wrap past ~9.2e12 stopword tokens, inside the design scale
    * (the q278/q281 micro-ratio convention).
    */
  def q284_stopword_profile(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), T.tokens(lower(col("text"))).as("tk"))
      .select(col("source"), size(col("tk")).cast("long").as("n_toks"),
        T.stopwordCount(col("tk"), T.stopwords.head._2).cast("long").as("n_stop"))
      .groupBy("source")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_toks"),
        sum(col("n_stop")).cast("long").as("n_stop"))
      .withColumn("stop_ppm",
        // DIV on the decimal product: Decimal.quot is an EXACT integer
        // quotient (no intermediate rounding), where `floor(a / b)`
        // divides in DECIMAL rounded HALF_UP at scale 6 first and can
        // land on the wrong side of an integer for quotients within
        // ~5e-7 of one. The oracle's HUGEINT `//` is the same exact
        // integer arithmetic — both engines stay integral end to end.
        when(col("n_toks") > 0,
          expr("(CAST(n_stop AS DECIMAL(38,0)) * 1000000) DIV n_toks"))
          .otherwise(0L))
      .orderBy("source")

  val q284_oracle: String = {
    val tk = T.tokensSql("lower(text)")
    val stop = T.stopwordCountSql("tk", T.stopwords.head._2)
    s"""SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(tk)) AS BIGINT) AS n_toks,
       |  CAST(sum($stop) AS BIGINT) AS n_stop,
       |  CAST(CASE WHEN sum(len(tk)) > 0
       |    THEN (CAST(sum($stop) AS HUGEINT) * 1000000)
       |      // sum(len(tk)) ELSE 0 END AS BIGINT)
       |    AS stop_ppm
       |FROM (SELECT source, $tk AS tk FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q285: per-source top bigrams ----------

  /** Report size per source. */
  val sourceBigramK = 5

  /** The [[sourceBigramK]] most frequent bigrams PER SOURCE — the
    * grouped-top-k twin of q114's global collocation table: what each
    * source actually sounds like (boilerplate phrases surface
    * instantly), the report a mixture designer scans before trusting
    * a new source. Ties break on the bigram string, so the report is
    * total-ordered cross-engine.
    *
    * Scale shape: one exploded-corpus partial-agg shuffle to the
    * (source, bigram) count table (vocab-bounded), then the rank
    * window runs OVER THE AGGREGATE keyed by source — the
    * distinct-value-axis contract (PlanContractsSpec's window rule):
    * the window input is the vocab-sized count table, never raw
    * corpus rows.
    */
  def q285_source_bigrams(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = Tables.load(spark, dir, "documents")
      .select(col("source"), T.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("source"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val w = Window.partitionBy("source")
      .orderBy(col("c").desc, col("bigram"))
    bg.groupBy("source", "bigram")
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= sourceBigramK)
      .select("source", "rk", "bigram", "c")
      .orderBy("source", "rk")
  }

  val q285_oracle: String = {
    val tk = T.tokensSql("lower(text)")
    s"""WITH bg AS (
       |  SELECT source,
       |    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bigram
       |  FROM (SELECT source, $tk AS t FROM documents)
       |  WHERE len(t) >= 2),
       |counts AS (
       |  SELECT source, bigram, CAST(count(*) AS BIGINT) AS c
       |  FROM bg GROUP BY 1, 2)
       |SELECT source, rk, bigram, c FROM (
       |  SELECT source, bigram, c,
       |    CAST(row_number() OVER (
       |      PARTITION BY source ORDER BY c DESC, bigram) AS BIGINT) AS rk
       |  FROM counts)
       |WHERE rk <= $sourceBigramK
       |ORDER BY source, rk""".stripMargin
  }

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q283_lang_trust" -> (q283_lang_trust _),
    "q284_stopword_profile" -> (q284_stopword_profile _),
    "q285_source_bigrams" -> (q285_source_bigrams _),
    "q268_heaps_curve" -> (q268_heaps_curve _),
    "q273_vocab_overlap" -> (q273_vocab_overlap _),
    "q245_prefix_dedup" -> (q245_prefix_dedup _),
    "q246_zipf_head" -> (q246_zipf_head _),
    "q247_ttr_curve" -> (q247_ttr_curve _),
    "q248_boundary_join" -> (q248_boundary_join _))

  val oracles: Map[String, String] = Map(
    "q283_lang_trust" -> q283_oracle,
    "q284_stopword_profile" -> q284_oracle,
    "q285_source_bigrams" -> q285_oracle,
    "q268_heaps_curve" -> q268_oracle,
    "q273_vocab_overlap" -> q273_oracle,
    "q245_prefix_dedup" -> q245_oracle,
    "q246_zipf_head" -> q246_oracle,
    "q247_ttr_curve" -> q247_oracle,
    "q248_boundary_join" -> q248_oracle)
}
