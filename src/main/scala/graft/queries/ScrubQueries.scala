package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-scrubbing operators a training-data pipeline runs before
  * anything else sees the corpus: PII redaction, URL normalization,
  * within-document repetition stats (SURVEY §2 #50–#52).
  *
  * All three are narrow, shuffle-free-per-row expression pipelines
  * (repetition adds one token-level aggregation); regexes are kept to
  * the syntax subset Java and RE2 evaluate identically.
  *
  * The synthetic corpus carries no organic PII/URLs, so q50/q51
  * append a deterministic PII/URL suffix in-query (same expression in
  * both engines) — the oracle then proves the scrub logic, not the
  * corpus content.
  */
object ScrubQueries extends graft.QueryFamily {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // ---------- q50: PII redaction ----------

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+[0-9][0-9-]{6,}[0-9]"
  private val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Regex PII scrub: count and redact emails, phone numbers, and
    * IPv4 addresses, emitting the redacted content hash. Pure codegen
    * per-row work — at 100 TB cost is read bandwidth only.
    */
  def q50_pii_redact(spark: SparkSession, dir: String): DataFrame = {
    // coalesce every nullable input: Spark's concat NULL-propagates
    // while DuckDB's skips NULLs — without this a single NULL source
    // row would silently diverge from the oracle
    def nn(c: Column): Column = coalesce(c, lit(""))
    val piiText = concat(nn(col("text")),
      lit(" contact user"), nn(col("doc_id").cast("string")),
      lit("@mail-"), nn(col("source")), lit(".com or +1-555-0"),
      nn(col("doc_id").cast("string")),
      lit(" from 10.0."), nn((col("doc_id") % 256).cast("string")),
      lit("."), nn((col("doc_id") % 100).cast("string")))
    def nMatches(c: Column, re: String): Column =
      size(regexp_extract_all(c, lit(re), lit(0)))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(piiText, emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"),
        ipRe, "<IP>")
    docs(spark, dir)
      .select(
        col("doc_id"),
        nMatches(piiText, emailRe).as("n_emails"),
        nMatches(piiText, phoneRe).as("n_phones"),
        nMatches(piiText, ipRe).as("n_ips"),
        length(redacted).as("n_red_chars"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  val q50_oracle: String = {
    // DuckDB concat skips NULLs (== concat of coalesce'd inputs);
    // written explicitly to mirror the Spark side
    val pii = "concat(coalesce(text, ''), ' contact user', coalesce(CAST(doc_id AS VARCHAR), ''), " +
      "'@mail-', coalesce(source, ''), '.com or +1-555-0', coalesce(CAST(doc_id AS VARCHAR), ''), " +
      "' from 10.0.', coalesce(CAST(doc_id % 256 AS VARCHAR), ''), '.', coalesce(CAST(doc_id % 100 AS VARCHAR), ''))"
    val red = s"regexp_replace(regexp_replace(regexp_replace($pii, " +
      s"'$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g'), '$ipRe', '<IP>', 'g')"
    s"""SELECT doc_id,
       |  len(regexp_extract_all($pii, '$emailRe')) AS n_emails,
       |  len(regexp_extract_all($pii, '$phoneRe')) AS n_phones,
       |  len(regexp_extract_all($pii, '$ipRe')) AS n_ips,
       |  length($red) AS n_red_chars,
       |  md5($red) AS redacted_md5
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------- q51: URL parsing / domain extraction ----------

  /** URL decomposition (host / path / query param) via anchored
    * regexes identical in both engines, aggregated to a per-domain
    * profile — the link-analysis shape of web-corpus curation (domain
    * allow/deny lists, per-domain quality priors).
    */
  def q51_url_extract(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"), coalesce(col("source"), lit("")),
      lit(".example.com/docs/"),
      coalesce(col("doc_id").cast("string"), lit("")),
      lit("?lang="), coalesce(col("lang"), lit("")))
    docs(spark, dir)
      .select(
        regexp_extract(url, "https://([^/]+)/", 1).as("host"),
        regexp_extract(url, "[?]lang=([a-z]+)", 1).as("lang_param"),
        col("n_chars"))
      .groupBy("host", "lang_param")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("host", "lang_param")
  }

  val q51_oracle: String = {
    val url = "concat('https://', coalesce(source, ''), '.example.com/docs/', " +
      "coalesce(CAST(doc_id AS VARCHAR), ''), '?lang=', coalesce(lang, ''))"
    s"""SELECT regexp_extract($url, 'https://([^/]+)/', 1) AS host,
       |  regexp_extract($url, '[?]lang=([a-z]+)', 1) AS lang_param,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents GROUP BY 1, 2 ORDER BY host, lang_param""".stripMargin
  }

  // ---------- q52: within-document repetition ----------

  /** Repetition profile per document: token multiplicity stats and the
    * dominant token — the within-doc analogue of corpus dedup (high
    * repeated-token ratio flags boilerplate/spam for quality
    * filtering). Explode → count per (doc, token) → windowed per-doc
    * stats; the only shuffle is by doc_id, and partial aggregation
    * bounds it at the distinct-token level.
    */
  def q52_repetition(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("cnt"))
    val byDoc = Window.partitionBy("doc_id")
    val rank = Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("tok").desc)
    counts
      .withColumn("rk", row_number().over(rank))
      .withColumn("n_tokens", sum(col("cnt")).over(byDoc))
      .withColumn("n_distinct", count(lit(1)).over(byDoc))
      .filter(col("rk") === 1)
      .select(
        col("doc_id"), col("tok").as("top_token"), col("cnt").as("top_freq"),
        col("n_tokens"), col("n_distinct"),
        ((col("n_tokens") - col("n_distinct")).cast("double") /
          col("n_tokens").cast("double")).as("rep_ratio"))
      .orderBy("doc_id")
  }

  val q52_oracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${T.tokensSql("text")}) AS tok FROM documents),
       |counts AS (
       |  SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok),
       |ranked AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok DESC) AS rk,
       |    CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens,
       |    count(*) OVER (PARTITION BY doc_id) AS n_distinct
       |  FROM counts)
       |SELECT doc_id, tok AS top_token, cnt AS top_freq, n_tokens, n_distinct,
       |  CAST(n_tokens - n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rep_ratio
       |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // ---------- q137: per-domain quality prior → blocklist filter ----------

  /** Blocklist policy: among domains with at least [[domainMinDocs]]
    * documents, block the bottom [[domainBlockPct]] percent by mean
    * quality — a PERCENTILE rule, not an absolute floor, because
    * per-domain means concentrate as domains accumulate documents
    * (any fixed threshold that bites at one corpus size blocks
    * nothing, or everything, at 10× it). Ties break by host, so the
    * blocked set is total-ordered and deterministic.
    */
  val domainMinDocs = 5L
  val domainBlockPct = 10L

  /** URL-domain quality policy: derive each document's host (q51's
    * synthetic-URL convention, sharded into 4 content-hashed
    * subdomains per source so domains have organic quality spread),
    * aggregate a per-domain quality prior — doc count + integer-mean
    * quality in micro-units (the q104 DIV rule) — rank domains by it,
    * block the bottom decile, and apply the blocklist back to the
    * corpus as a broadcast anti-join. The RefinedWeb/C4-style "judge
    * the site, not the page" rule. Output is the per-source damage
    * report: domains blocked, docs kept/dropped.
    *
    * Scale shape: the domain profile is one partial-agg shuffle keyed
    * by host (domains ≪ docs — the canonical map-side-combine
    * workload); the decile rank rides [[graft.operators.RangeRank]]
    * over the DOMAIN-sized table (bucketed — no single-task sort even
    * at web-scale domain counts);
    * the blocklist rides an explicit broadcast back over the corpus
    * scan, so applying the policy costs read bandwidth only. No
    * corpus-sized join anywhere.
    */
  def q137_domain_policy(spark: SparkSession, dir: String): DataFrame = {
    val host = concat(coalesce(col("source"), lit("")), lit("-"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long") % 4).cast("string"),
      lit(".example.com"))
    val d = docs(spark, dir)
      .withColumn("host", host)
      .withColumn("q_micro", floor(T.qualityScore(col("text")) * 1000000L).cast("long"))
    val profile = d.groupBy("host")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("q_micro")).cast("long").as("q_sum"))
      .withColumn("mean_q_micro", expr("q_sum DIV n_docs"))
    val eligible = profile.filter(col("n_docs") >= domainMinDocs)
    // exact bottom-decile rank without a global window over the (at
    // web scale, ~1e8-row) domain table: RangeRank's bucketed rank
    val blocked = graft.operators.RangeRank.rank(eligible, Nil,
        Seq(graft.operators.RangeRank.Key("mean_q_micro"),
          graft.operators.RangeRank.Key("host")), "rk", "n_eligible")
      .filter(col("rk") * 100 <= col("n_eligible") * domainBlockPct)
      .select(col("host").as("bhost"))
    // the blocked set is ~10% of all DOMAINS (~1e8 at web scale): no
    // broadcast hint — a forced broadcast of a corpus-scaled side OOMs
    d.join(blocked, col("host") === col("bhost"), "left")
      .groupBy("source")
      .agg(
        countDistinct(when(col("bhost").isNotNull, col("host"))).as("n_domains_blocked"),
        count(when(col("bhost").isNull, lit(1))).as("n_docs_kept"),
        count(when(col("bhost").isNotNull, lit(1))).as("n_docs_dropped"),
        coalesce(min(when(col("bhost").isNotNull, col("doc_id"))), lit(-1L))
          .as("first_dropped_doc"))
      .orderBy("source")
  }

  val q137_oracle: String = {
    val host = "concat(coalesce(source, ''), '-', CAST(CAST(concat('0x', " +
      "substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) % 4 AS VARCHAR), '.example.com')"
    s"""WITH d AS (
       |  SELECT source, doc_id, $host AS host,
       |    CAST(floor(${T.qualityScoreSql("text")} * 1000000) AS BIGINT) AS q_micro
       |  FROM documents),
       |profile AS (
       |  SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(q_micro) AS BIGINT) AS q_sum
       |  FROM d GROUP BY host),
       |eligible AS (
       |  SELECT host, q_sum // n_docs AS mean_q
       |  FROM profile WHERE n_docs >= $domainMinDocs),
       |blocked AS (
       |  SELECT host FROM (
       |    SELECT host,
       |      ROW_NUMBER() OVER (ORDER BY mean_q ASC, host ASC) AS rk,
       |      count(*) OVER () AS n_eligible
       |    FROM eligible)
       |  WHERE rk * 100 <= n_eligible * $domainBlockPct)
       |SELECT source,
       |  count(DISTINCT CASE WHEN b.host IS NOT NULL THEN d.host END) AS n_domains_blocked,
       |  count(CASE WHEN b.host IS NULL THEN 1 END) AS n_docs_kept,
       |  count(CASE WHEN b.host IS NOT NULL THEN 1 END) AS n_docs_dropped,
       |  coalesce(min(CASE WHEN b.host IS NOT NULL THEN doc_id END), -1) AS first_dropped_doc
       |FROM d LEFT JOIN blocked b ON d.host = b.host
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- registry ----------

  // ---------- q204: URL canonicalization + dedup rate ----------

  /** URL canonicalization — the crawl-frontier/dedup normalizer every
    * web pipeline runs before page-level dedup (the same page arrives
    * as `HTTPS://Host/...#frag?utm_...` dozens of ways): lowercase
    * scheme+host (case-insensitive by RFC 3986), strip the fragment
    * (never sent to the server), strip `utm_*` tracking params, then
    * report the per-source dup rate of canonical targets. URLs here
    * are the suite's synthetic convention (q51), deliberately
    * dirtied deterministically from doc_id (scheme case, host case,
    * fragment presence, one utm param) with 4 raw URLs mapping to
    * each canonical target by construction.
    *
    * Scale shape: pure narrow string ops at scan throughput + one
    * (source, canonical)-keyed partial-agg distinct — the shuffle
    * carries canonical URLs, never documents.
    */
  def q204_url_canonical(spark: SparkSession, dir: String): DataFrame = {
    val scheme = when(col("doc_id") % 2 === 0, lit("HTTPS://"))
      .otherwise(lit("https://"))
    val host = concat(
      when(col("doc_id") % 3 === 0, upper(coalesce(col("source"), lit(""))))
        .otherwise(coalesce(col("source"), lit(""))),
      lit(".Example.COM"))
    val target = expr("doc_id DIV 4")
    val frag = when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit(""))
    val raw = concat(scheme, host, lit("/docs/"), target.cast("string"),
      lit("?utm_source=feed&id="), target.cast("string"), frag)
    val noFrag = regexp_replace(raw, "#.*$", "")
    val noUtm = regexp_replace(
      regexp_replace(noFrag, "utm_[a-z]+=[^&#]*&?", ""), "[?&]$", "")
    val canonical = concat(
      lower(regexp_extract(noUtm, "^([^/]+//[^/]+)", 1)),
      regexp_extract(noUtm, "^[^/]+//[^/]+(.*)$", 1))
    docs(spark, dir)
      .select(col("source"), canonical.as("canon"), col("text"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_urls"),
        countDistinct(col("canon")).cast("long").as("n_canonical"),
        // content pin: the synthesized-URL grid is a pure function of
        // the id space; corpus_chars ties the report to the documents
        sum(length(col("text"))).as("corpus_chars"))
      .withColumn("dup_ppm",
        expr("((n_urls - n_canonical) * 1000000) DIV n_urls"))
      .select("source", "n_urls", "n_canonical", "dup_ppm", "corpus_chars")
      .orderBy("source")
  }

  val q204_oracle: String = {
    val raw = "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END, " +
      "CASE WHEN doc_id % 3 = 0 THEN upper(coalesce(source, '')) " +
      "ELSE coalesce(source, '') END, '.Example.COM', '/docs/', " +
      "CAST(doc_id // 4 AS VARCHAR), '?utm_source=feed&id=', " +
      "CAST(doc_id // 4 AS VARCHAR), " +
      "CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END)"
    s"""WITH u AS (SELECT source, $raw AS raw, length(text) AS len
       |  FROM documents),
       |s1 AS (SELECT source, len, regexp_replace(raw, '#.*$$', '') AS x FROM u),
       |s2 AS (SELECT source, len, regexp_replace(
       |  regexp_replace(x, 'utm_[a-z]+=[^&#]*&?', ''), '[?&]$$', '') AS x
       |  FROM s1),
       |c AS (SELECT source, len,
       |  concat(lower(regexp_extract(x, '^([^/]+//[^/]+)', 1)),
       |    regexp_extract(x, '^[^/]+//[^/]+(.*)$$', 1)) AS canon
       |  FROM s2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_urls,
       |  CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
       |  CAST(((count(*) - count(DISTINCT canon)) * 1000000) // count(*)
       |    AS BIGINT) AS dup_ppm,
       |  CAST(sum(len) AS BIGINT) AS corpus_chars
       |FROM c GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q264: scrub idempotence certificate ----------

  /** The CERTIFICATE leg of q50's redaction: re-scan the REDACTED text
    * with the same detectors and report, per source, the before/after
    * counts of every PII type. All-zero `after` columns are the
    * release gate ("one pass cleans") — and if a replacement ever
    * created a new match (placeholder juxtaposition forming an
    * IP-like string), this is the query that catches it, because the
    * after-counts re-derive from the redacted text rather than
    * assuming zero. Same planted-PII text as q50, so the detectors
    * have non-trivial work at every SF.
    *
    * Scale shape: detection, redaction, and re-detection are narrow
    * per-row regex expressions in ONE scan (q50's codegen argument);
    * the only shuffle is the |sources|-row rollup.
    */
  def q264_scrub_idempotence(spark: SparkSession, dir: String): DataFrame = {
    def nn(c: Column): Column = coalesce(c, lit(""))
    val piiText = concat(nn(col("text")),
      lit(" contact user"), nn(col("doc_id").cast("string")),
      lit("@mail-"), nn(col("source")), lit(".com or +1-555-0"),
      nn(col("doc_id").cast("string")),
      lit(" from 10.0."), nn((col("doc_id") % 256).cast("string")),
      lit("."), nn((col("doc_id") % 100).cast("string")))
    def nMatches(c: Column, re: String): Column =
      size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(piiText, emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"),
        ipRe, "<IP>")
    docs(spark, dir)
      .select(col("source"),
        nMatches(piiText, emailRe).as("e0"),
        nMatches(piiText, phoneRe).as("p0"),
        nMatches(piiText, ipRe).as("i0"),
        nMatches(redacted, emailRe).as("e1"),
        nMatches(redacted, phoneRe).as("p1"),
        nMatches(redacted, ipRe).as("i1"),
        length(piiText).as("scan_chars"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("e0")).cast("long").as("emails_before"),
        sum(col("p0")).cast("long").as("phones_before"),
        sum(col("i0")).cast("long").as("ips_before"),
        sum(col("e1")).cast("long").as("emails_after"),
        sum(col("p1")).cast("long").as("phones_after"),
        sum(col("i1")).cast("long").as("ips_after"),
        // content pin: bytes the scrub scanned — the match counts are
        // dominated by the synthesized suffix (a pure id function)
        sum(col("scan_chars")).cast("long").as("chars_scanned"))
      .orderBy("source")
  }

  val q264_oracle: String = {
    val pii = "concat(coalesce(text, ''), ' contact user', coalesce(CAST(doc_id AS VARCHAR), ''), " +
      "'@mail-', coalesce(source, ''), '.com or +1-555-0', coalesce(CAST(doc_id AS VARCHAR), ''), " +
      "' from 10.0.', coalesce(CAST(doc_id % 256 AS VARCHAR), ''), '.', coalesce(CAST(doc_id % 100 AS VARCHAR), ''))"
    val red = s"regexp_replace(regexp_replace(regexp_replace($pii, " +
      s"'$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g'), '$ipRe', '<IP>', 'g')"
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(regexp_extract_all($pii, '$emailRe'))) AS BIGINT) AS emails_before,
       |  CAST(sum(len(regexp_extract_all($pii, '$phoneRe'))) AS BIGINT) AS phones_before,
       |  CAST(sum(len(regexp_extract_all($pii, '$ipRe'))) AS BIGINT) AS ips_before,
       |  CAST(sum(len(regexp_extract_all($red, '$emailRe'))) AS BIGINT) AS emails_after,
       |  CAST(sum(len(regexp_extract_all($red, '$phoneRe'))) AS BIGINT) AS phones_after,
       |  CAST(sum(len(regexp_extract_all($red, '$ipRe'))) AS BIGINT) AS ips_after,
       |  CAST(sum(length($pii)) AS BIGINT) AS chars_scanned
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q264_scrub_idempotence" -> (q264_scrub_idempotence _),
    "q204_url_canonical" -> (q204_url_canonical _),
    "q137_domain_policy" -> (q137_domain_policy _),
    "q50_pii_redact" -> (q50_pii_redact _),
    "q51_url_extract" -> (q51_url_extract _),
    "q52_repetition" -> (q52_repetition _))

  val oracles: Map[String, String] = Map(
    "q264_scrub_idempotence" -> q264_oracle,
    "q204_url_canonical" -> q204_oracle,
    "q137_domain_policy" -> q137_oracle,
    "q50_pii_redact" -> q50_oracle,
    "q51_url_extract" -> q51_oracle,
    "q52_repetition" -> q52_oracle)
}
