package graft.queries

import graft.Tables
import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.operators.Fixpoint
import graft.streaming.FileFeed
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 corpus operators: span-granular exact dedup, corpus-level
  * boilerplate profiling, and ranked (BM25) retrieval — the three
  * remaining text-pipeline capabilities between "document-level dedup"
  * (q23/q25) and "a corpus you can actually search".
  *
  * All three follow the repo determinism policy (SURVEY §4): md5 for
  * cross-engine hashing, integer/decimal-exact arithmetic only (BM25
  * scores are scaled-integer rationals, never summed doubles), and
  * oracle SQL generated from the same Scala constants.
  */
object RetrievalQueries extends graft.QueryFamily {

  // ---------- q81: span-level exact dedup ----------

  /** Tokens per dedup span. Chunking (stride = spanLen) rather than a
    * sliding window keeps the span count at n/k instead of n — the
    * hash-window approximation of suffix-array exact-substring dedup
    * (Lee et al. 2021): a duplicated passage ≥ 2k tokens long is
    * guaranteed to cover at least one aligned chunk.
    */
  val spanLen = 8

  /** Duplicated-SPAN detection — finer-grained than document dedup:
    * documents are chunked into consecutive [[spanLen]]-token spans,
    * each span md5-hashed, and a span is "duplicated" when it appears
    * in ≥ 2 distinct documents. Output is the per-document span
    * profile plus the keep/drop verdict (drop when more than half the
    * doc's spans are duplicated elsewhere) — the operator that catches
    * stitched/quoted corpora document-level MinHash misses.
    *
    * Scale shape: span hashing is a narrow map (no text retained past
    * the md5); corpus span-frequency is one partial-agg shuffle on the
    * 16-byte hash; only spans with df ≥ 2 (a small set by definition
    * on a mostly-unique corpus) join back against the per-doc span
    * stream. No stage carries more than (doc_id, hash) pairs.
    */
  def q81_span_dedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val spans = docs
      .select(col("doc_id"), T.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(
          when(size(col("tk")) >= spanLen,
            transform(expr(s"sequence(0, size(tk) div $spanLen - 1)"),
              i => md5(concat_ws(" ", slice(col("tk"), i * spanLen + 1, lit(spanLen))))))
            .otherwise(array().cast("array<string>"))).as("h"))
    // "appears in ≥ 2 DISTINCT documents" needs no distinct-count:
    // over the h partition it is exactly min(doc_id) ≠ max(doc_id),
    // so one window pass flags every span occurrence and one per-doc
    // aggregate emits both counters — the old three-branch form
    // (df aggregate + join-back + separate per-doc count) derived the
    // span stream (tokenize + md5 per chunk) three times (guide §2.4)
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val perDoc = spans
      .withColumn("dup",
        min(col("doc_id")).over(wh) =!= max(col("doc_id")).over(wh))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "n_dup_spans"))
      .withColumn("keep", col("n_dup_spans") * 2 <= col("n_spans"))
      .orderBy("doc_id")
  }

  val q81_oracle: String = {
    val tk = T.tokensSql("text")
    s"""WITH t AS (SELECT doc_id, source, $tk AS tk FROM documents),
       |sp AS (SELECT doc_id,
       |  unnest([md5(array_to_string(tk[(i*$spanLen+1):(i*$spanLen+$spanLen)], ' '))
       |          for i in range(0, len(tk)//$spanLen)]) AS h FROM t),
       |dup AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |per AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1),
       |perdup AS (SELECT sp.doc_id, count(*) AS n_dup_spans
       |           FROM sp JOIN dup USING (h) GROUP BY 1)
       |SELECT t.doc_id, t.source,
       |  COALESCE(per.n_spans, 0) AS n_spans,
       |  COALESCE(perdup.n_dup_spans, 0) AS n_dup_spans,
       |  COALESCE(perdup.n_dup_spans, 0) * 2 <= COALESCE(per.n_spans, 0) AS keep
       |FROM t LEFT JOIN per USING (doc_id) LEFT JOIN perdup USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------- q82: boilerplate n-gram profile ----------

  /** Boilerplate threshold: a 3-gram is boilerplate when it appears in
    * ≥ [[boilerPct]]% of documents. Relative (not absolute) so the
    * heavy-hitter set stays bounded as the corpus grows — the high-DF
    * complement of q72's rare-shingle cutoff.
    */
  val boilerPct = 1

  /** Corpus boilerplate profile: which sources are dominated by
    * high-document-frequency n-grams (navigation chrome, license
    * headers, templated text). Per source: total 3-gram occurrences,
    * occurrences that are corpus-boilerplate, and how many distinct
    * boilerplate n-grams the source carries — the signal a mixture
    * builder uses to down-weight templated sources before training.
    *
    * Scale shape: DF is one partial-agg shuffle over (gram, doc_id)
    * pairs; the corpus total is a 1-row aggregate cross-joined in (a
    * broadcast, never a driver collect); the heavy set (≥1% of docs by
    * definition ≤ 100/boilerPct × vocab growth) joins back against the
    * occurrence stream as the small side.
    */
  def q82_boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // shingles3 fuses tokenize+shingle natively (ShingleText, codegen)
    // — no intermediate token array; same values as
    // shingles(tokens(text)), pinned by ShingleTextSpec
    val sh = docs
      .select(col("doc_id"), col("source"),
        explode(call_function("shingles3", col("text"))).as("g"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // measured and rejected (r19 second pass): a distinct-(g, doc)
    // pre-aggregate + DF window derives the shingle stream once
    // instead of twice, but the df-aggregate branch and the probe
    // schedule concurrently on idle cores (guide §2.6) and the window
    // sort outweighs the saved pass at sf0.1/32cpu (warm medians
    // 1.11 → 1.29 s); the join-back shape stands
    val heavy = sh.groupBy("g").agg(count_distinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 >= col("n_docs") * boilerPct)
      .select(col("g"), lit(1L).as("is_b"))
    sh.join(heavy, Seq("g"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_b"), lit(0L))).as("n_boiler"),
        count_distinct(when(col("is_b") === 1L, col("g"))).as("n_boiler_grams"))
      .orderBy("source")
  }

  val q82_oracle: String = {
    val tk = T.tokensSql("text")
    s"""WITH t AS (SELECT doc_id, source, $tk AS tk FROM documents),
       |sh AS (SELECT doc_id, source,
       |  unnest(${H.shinglesSql("tk")}) AS g FROM t),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |heavy AS (SELECT g FROM sh, n GROUP BY g, n_docs
       |          HAVING count(DISTINCT doc_id) * 100 >= n_docs * $boilerPct)
       |SELECT source, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN heavy.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  count(DISTINCT CASE WHEN heavy.g IS NOT NULL THEN sh.g END) AS n_boiler_grams
       |FROM sh LEFT JOIN heavy ON sh.g = heavy.g
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q83: BM25 ranked retrieval ----------

  /** BM25 constants as exact rationals: k1 = 6/5 (1.2), b = 3/4
    * (0.75) — the standard Robertson defaults. Scores are computed as
    * scaled integers (see [[bm25Scale]]) so partial-aggregation order
    * can never change a result: with idf = (2N−2df+1)/(2df+1) and
    * avgdl floored to adl = L div N, the per-term score
    *   idf · tf(k1+1) / (tf + k1(1 − b + b·dl/adl))
    * multiplies out to the all-integer rational
    *   (2N−2df+1) · 22·adl·tf  /  (2df+1) · (10·adl·tf + 3·adl + 9·dl),
    * and each term contributes floor(scale · num / den). Magnitudes:
    * scale·2N·22·adl·tf ≈ 1.5e15 at a 50k-doc test corpus — 6000× of
    * BIGINT headroom; at true cluster scale the same plan runs with
    * DECIMAL(38,0) or double scoring (ranking, not parity, is the goal
    * there).
    */
  val bm25Scale = 100000L
  val bm25TopK = 5

  /** The benchmark query set: one rare discriminative term (`dup`
    * marks the planted near-duplicates), one mid-frequency triple, one
    * longer mixed query — fixed literals shared verbatim with the
    * oracle, the bounded-query-set pattern of q28.
    */
  val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("dup", "merge", "batch"),
    1 -> Seq("spark", "join", "table"),
    2 -> Seq("window", "scan", "filter", "sort"))

  /** BM25 top-k retrieval — the ranked-search operator over the
    * curated corpus: tokenize → (term, doc) postings with tf and
    * doc-length → document frequencies → scaled-integer BM25 per
    * (query, term, doc) → exact integer sum per (query, doc) → top-k
    * per query (score desc, doc_id tiebreak).
    *
    * Scale shape: the postings build is the q35 vocabulary shuffle;
    * the tiny literal query set broadcast-joins against postings so
    * only matching terms' postings flow; df joins on term (vocab-
    * bounded); the 1-row corpus stats cross-join is a broadcast. Final
    * top-k windows over |queries| × matched-docs, never the corpus.
    */
  def q83_bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val terms = docs
      .select(col("doc_id"), T.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
    // ONE tokenize pass (guide §2.4): tf is materialized (Lineage.cut)
    // and feeds the score join, the document frequencies AND the
    // corpus-length stat. Unmaterialized, column pruning specialized
    // the tf subtree per consumer (different aggregate lists), defeated
    // ReuseExchange, and the plan tokenized the corpus three times.
    // l = Σtf equals count(terms) exactly — every token occurrence is
    // counted once in exactly one (doc, term) group.
    val tf = graft.Lineage.cut(terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl")))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"))
      .crossJoin(tf.agg(sum(col("tf")).as("l")))
      .withColumn("adl", expr("l div n"))
    val queryTerms = bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val scored = broadcast(queryTerms)
      .join(tf, "term")
      .join(dft, "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        expr(s"($bm25Scale * (2*n - 2*df + 1) * 22 * adl * tf) div " +
          s"((2*df + 1) * (10 * adl * tf + 3 * adl + 9 * dl))"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("score"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rnk") <= bm25TopK)
      .select("query_id", "doc_id", "score", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** q83's oracle WITHOUT the trailing ORDER BY — the embeddable body
    * q91's CTE composes directly (no text surgery on finished SQL).
    * `prefixCtes` prepends extra CTEs and `docsRel` swaps the scored
    * relation — q230 scores `survivors` instead of `documents`.
    */
  private def bm25OracleBodyFrom(
      docsRel: String, prefixCtes: String = ""): String = {
    val tk = T.tokensSql("text")
    val values = bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""WITH ${prefixCtes}q AS (SELECT * FROM (VALUES $values) AS v(query_id, term)),
       |t AS (SELECT doc_id, $tk AS tk FROM $docsRel),
       |terms AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS term FROM t),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |       FROM terms GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT (SELECT count(*) FROM t) AS n,
       |              (SELECT count(*) FROM terms) AS l),
       |sc AS (SELECT q.query_id, tf.doc_id,
       |  CAST(sum(($bm25Scale * (2*n - 2*df + 1) * 22 * (l // n) * tf) //
       |           ((2*df + 1) * (10 * (l // n) * tf + 3 * (l // n) + 9 * dl))) AS BIGINT) AS score
       |  FROM q JOIN tf USING (term) JOIN dft USING (term) CROSS JOIN st
       |  GROUP BY 1, 2)
       |SELECT query_id, doc_id, score, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rnk FROM sc)
       |WHERE rnk <= $bm25TopK""".stripMargin
  }

  private val bm25OracleBody: String = bm25OracleBodyFrom("documents")

  val q83_oracle: String = s"$bm25OracleBody ORDER BY query_id, rnk"

  // ---------- q84: persisted inverted index, queried without re-tokenizing ----------

  /** The BM25 inverted index as a STORED artifact — the retrieval
    * counterpart of q76's stored MinHash index. q83 rebuilds postings
    * from raw text per query set; at corpus scale the index is built
    * ONCE (postings + document frequencies + corpus stats written to
    * columnar storage) and every query runs against the index, never
    * the text. This query is that lifecycle end-to-end: build → write
    * parquet → reopen → score q83's query set purely from stored
    * columns, with the oracle pinning that the persisted index ranks
    * bit-identically to the from-text build.
    *
    * The artifact is three tables: `postings` (term, doc_id, tf, dl —
    * one row per distinct term-doc), `df` (term, df — vocab-sized),
    * `stats` (one row: N docs, total corpus length). On a cluster the
    * postings write would bucket by term so a query's broadcast-join
    * probe touches only matching buckets; df and stats are
    * vocab-bounded and O(1) respectively, and incremental ingest
    * appends postings partitions and re-aggregates df — corpus-size
    * work never re-runs per query.
    */
  def q84_bm25_index_persist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q84-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      val terms = docs
        .select(col("doc_id"), T.tokens(col("text")).as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          explode(col("tk")).as("term"))
      terms.groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .write.parquet(s"$work/postings")
      spark.read.parquet(s"$work/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .write.parquet(s"$work/df")
      docs.agg(count(lit(1)).as("n"))
        // corpus length from the just-written postings (Σtf = count of
        // term occurrences, exactly) — not a second tokenize pass (§2.4)
        .crossJoin(spark.read.parquet(s"$work/postings")
          .agg(sum(col("tf")).as("l")))
        .write.parquet(s"$work/stats")
      // reopen: everything below sees only the stored index schema —
      // the raw text column is never touched again
      val tf = spark.read.parquet(s"$work/postings")
      val dft = spark.read.parquet(s"$work/df")
      val stats = spark.read.parquet(s"$work/stats")
        .withColumn("adl", expr("l div n"))
      val queryTerms = bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
      val scored = broadcast(queryTerms)
        .join(tf, "term")
        .join(dft, "term")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          expr(s"($bm25Scale * (2*n - 2*df + 1) * 22 * adl * tf) div " +
            s"((2*df + 1) * (10 * adl * tf + 3 * adl + 9 * dl))"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("contrib")).as("score"))
      scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rnk") <= bm25TopK)
        .select("query_id", "doc_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    }
  }

  /** Identical to [[q83_oracle]] on purpose: the stored index must
    * reproduce the from-text ranking bit-for-bit.
    */
  val q84_oracle: String = q83_oracle

  // ---------- q91: hybrid retrieval (lexical recall → semantic rerank) ----------

  /** Two-stage retrieval — the standard production shape: a cheap
    * lexical stage (q83's BM25 top-k over the inverted-index join)
    * nominates candidates, then a dense stage re-ranks ONLY those
    * candidates by embedding cosine against the query's vector. Each
    * benchmark query is paired with the embedding whose vec_id equals
    * its query_id (the corpus aligns doc_id and vec_id). Output keeps
    * both orderings side by side — bm25_rnk in, cos_rnk out — which
    * is the agreement signal a retrieval evaluation reads.
    *
    * Scale shape: the expensive vector math runs on |queries|·topK
    * rows (15 here), never the corpus — that is the entire point of
    * the cascade; the dense join probes the (bucketed, q84-persisted
    * at scale) embedding table by id. Cosine uses the suite's
    * bit-identical left-fold dot product (q28's rule), so ranks are
    * engine-stable.
    */
  def q91_hybrid_rerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    import org.apache.spark.sql.expressions.Window
    val cand = q83_bm25(spark, dir)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
    val docVec = e.select(col("vec_id").as("doc_id"), col("v").as("nv"),
      V.norm(col("v")).as("n_nrm"))
    // restrict the broadcast side to the literal query batch BEFORE
    // hinting: unfiltered it is the whole embedding table (corpus-sized)
    val qVec = e.filter(col("vec_id").isin(bm25Queries.map(_._1.toLong): _*))
      .select(col("vec_id").cast("int").as("query_id"),
        col("v").as("qv"), V.norm(col("v")).as("q_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))
    cand
      .join(docVec, "doc_id")
      .join(broadcast(qVec), "query_id")
      .select(col("query_id"), col("doc_id"),
        col("rnk").as("bm25_rnk"), cos.as("cos"))
      .withColumn("cos_rnk", row_number().over(w))
      .select("query_id", "doc_id", "bm25_rnk", "cos_rnk", "cos")
      .orderBy("query_id", "cos_rnk")
  }

  val q91_oracle: String = {
    import graft.functions.{VectorFunctions => V}
    val cos = V.cosineSql("qv", "nv")
    s"""WITH bm25 AS ($bm25OracleBody),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |j AS (
       |  SELECT bm25.query_id, bm25.doc_id, bm25.rnk AS bm25_rnk, $cos AS cos
       |  FROM bm25
       |  JOIN (SELECT vec_id, v AS nv FROM e) d ON bm25.doc_id = d.vec_id
       |  JOIN (SELECT CAST(vec_id AS INT) AS query_id, v AS qv FROM e) q
       |    USING (query_id))
       |SELECT query_id, doc_id, bm25_rnk,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id)
       |    AS cos_rnk, cos
       |FROM j ORDER BY query_id, cos_rnk""".stripMargin
  }

  // ---------- q123: span scrub (remove duplicated passages, reassemble) ----------

  /** The REWRITE counterpart of q81: q81 flags documents whose spans
    * are duplicated; this operator actually SCRUBS the duplicated
    * passages and reassembles the remaining text — the
    * remove-duplicated-substrings variant of corpus dedup (Lee et al.
    * 2021), where repeated boilerplate passages are cut from every
    * document rather than whole documents dropped.
    *
    * Semantics: documents are chunked into consecutive [[spanLen]]-
    * token spans (same alignment as q81; the < spanLen tail is exempt
    * — it cannot be a full span); a span duplicated across ≥ 2
    * documents is removed from ALL of them; survivors rejoin in
    * original order. Output carries the removal accounting and an
    * md5 fingerprint of the cleaned text (the full rewritten string
    * stays distributed — only its 32-char proof travels to the
    * result).
    *
    * Scale shape: chunking is a narrow map; span document-frequency is
    * one partial-agg shuffle on the 16-byte hash; the scrub is a
    * LEFT ANTI join of the per-doc span stream against the (small by
    * definition) duplicated-span set; reassembly is one groupBy(doc)
    * whose payload is the kept span TEXT of that doc — rows never
    * exceed (doc_id, span) granularity and no driver state exists.
    */
  def q123_span_scrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("doc_id"), col("source"), T.tokens(col("text")).as("tk"))
      .withColumn("n_toks", size(col("tk")).cast("long"))
    // every spanLen-aligned chunk INCLUDING the short tail (slice
    // truncates at the end); ntk < spanLen ⟺ tail ⟺ dedup-exempt
    val pieces = base.select(col("doc_id"), col("n_toks"),
        explode(
          when(col("n_toks") > 0,
            transform(expr(s"sequence(0, (size(tk) + ${spanLen - 1}) div $spanLen - 1)"),
              i => struct(
                i.as("i"),
                concat_ws(" ", slice(col("tk"), i * spanLen + 1, lit(spanLen))).as("txt"),
                size(slice(col("tk"), i * spanLen + 1, lit(spanLen))).as("ntk"))))
            .otherwise(array().cast("array<struct<i:int,txt:string,ntk:int>>")))
          .as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.txt").as("txt"),
        col("p.ntk").as("ntk"), md5(col("p.txt")).as("h"))
    // ONE tokenize pass (was three: df aggregate, anti-join probe,
    // and a separate n_toks scan). "duplicated across ≥ 2 documents"
    // is min(doc_id) ≠ max(doc_id) over the h window — an h partition
    // is ntk-homogeneous (same text ⇒ same token count), so the
    // full-span restriction is just the ntk check on the row — and
    // n_toks = Σ ntk over ALL of a doc's pieces rides the same
    // per-doc aggregate (collect_list skips the nulls of removed
    // spans, so a fully scrubbed doc fingerprints to md5(""))
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val flagged = pieces.withColumn("rm",
      col("ntk") === spanLen &&
        min(col("doc_id")).over(wh) =!= max(col("doc_id")).over(wh))
    val rebuilt = flagged.groupBy("doc_id").agg(
      sum(col("ntk").cast("long")).as("n_toks"),
      coalesce(sum(when(!col("rm"), col("ntk").cast("long"))), lit(0L))
        .as("n_kept"),
      md5(concat_ws(" ",
        transform(array_sort(collect_list(
          when(!col("rm"), struct(col("i"), col("txt"))))),
          s => s.getField("txt")))).as("clean_fp"))
    docs.select(col("doc_id"), col("source"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        (coalesce(col("n_toks"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("clean_fp"), lit(md5Empty)).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** md5("") — the fingerprint of a fully scrubbed document. */
  private val md5Empty = "d41d8cd98f00b204e9800998ecf8427e"

  val q123_oracle: String = {
    val tk = T.tokensSql("text")
    val n = s"(len(tk) + ${spanLen - 1}) // $spanLen"
    s"""WITH t AS (SELECT doc_id, source, $tk AS tk FROM documents),
       |p AS (SELECT doc_id,
       |  unnest(range(0, $n)) AS i,
       |  unnest([array_to_string(tk[(j*$spanLen+1):(j*$spanLen+$spanLen)], ' ')
       |          for j in range(0, $n)]) AS txt,
       |  unnest([len(tk[(j*$spanLen+1):(j*$spanLen+$spanLen)])
       |          for j in range(0, $n)]) AS ntk
       |  FROM t),
       |dup AS (SELECT md5(txt) AS h FROM p WHERE ntk = $spanLen
       |        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |kept AS (SELECT p.* FROM p
       |  LEFT JOIN dup ON p.ntk = $spanLen AND md5(p.txt) = dup.h
       |  WHERE dup.h IS NULL),
       |res AS (SELECT doc_id, CAST(sum(ntk) AS BIGINT) AS n_kept,
       |               md5(string_agg(txt, ' ' ORDER BY i)) AS clean_fp
       |        FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, t.source, CAST(len(tk) AS BIGINT) AS n_toks,
       |  CAST(len(tk) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(clean_fp, md5('')) AS clean_fp
       |FROM t LEFT JOIN res ON t.doc_id = res.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---------- registry ----------

  // ---------- q193: exact Spearman rank agreement ----------

  /** Spearman rank correlation between q91's two ranking signals
    * (BM25 rank vs embedding-cosine rank per query) — "do lexical and
    * semantic retrieval agree, and on which queries do they diverge"
    * as ONE exact number per query: over distinct ranks
    * `ρ = 1 − 6·Σd² / (n(n²−1))` is RATIONAL, emitted in exact ppm as
    * `(n(n²−1) − 6Σd²)·10⁶ DIV (n(n²−1))` — a correlation coefficient
    * with zero floats (the q174 assortativity rule applied to ranks).
    * ρ near 10⁶ = redundant signals; low/negative ρ = the hybrid
    * cascade is earning its keep on that query.
    *
    * Scale shape: q91's candidate-bounded output (|Q|·k rows) plus
    * one |Q|-row aggregate.
    */
  def q193_rank_correlation(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    q91_hybrid_rerank(spark, dir)
      .withColumn("d", (col("bm25_rnk") - col("cos_rnk")).cast("long"))
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n"),
        sum((col("d") * col("d")).cast(dec38)).cast("long").as("d2_sum"))
      .filter(col("n") > 1)
      .withColumn("rho_ppm", expr(
        s"""CAST((CAST(n AS $dec38) * (CAST(n AS $dec38) * n - 1) - 6 * d2_sum)
           | * 1000000 DIV (CAST(n AS $dec38) * (CAST(n AS $dec38) * n - 1))
           | AS BIGINT)""".stripMargin.replace("\n", " ")))
      .select("query_id", "n", "d2_sum", "rho_ppm")
      .orderBy("query_id")
  }

  val q193_oracle: String = {
    import graft.functions.{VectorFunctions => V}
    val cos = V.cosineSql("qv", "nv")
    s"""WITH bm25 AS ($bm25OracleBody),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |j AS (
       |  SELECT bm25.query_id, bm25.doc_id, bm25.rnk AS bm25_rnk, $cos AS cos
       |  FROM bm25
       |  JOIN (SELECT vec_id, v AS nv FROM e) d ON bm25.doc_id = d.vec_id
       |  JOIN (SELECT CAST(vec_id AS INT) AS query_id, v AS qv FROM e) q
       |    USING (query_id)),
       |r AS (
       |  SELECT query_id, bm25_rnk,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id)
       |      AS cos_rnk
       |  FROM j),
       |a AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST((bm25_rnk - cos_rnk) AS HUGEINT)
       |      * (bm25_rnk - cos_rnk)) AS BIGINT) AS d2_sum
       |  FROM r GROUP BY query_id)
       |SELECT query_id, n, d2_sum,
       |  CAST((CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1) - 6 * d2_sum)
       |    * 1000000 // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
       |    AS BIGINT) AS rho_ppm
       |FROM a WHERE n > 1 ORDER BY query_id""".stripMargin
  }

  // ---------- q188: BM25 with pseudo-relevance feedback ----------

  /** Feedback docs per query and expansion terms drawn from them. */
  val prfFeedbackDocs = 3
  val prfExpansionTerms = 2

  /** Pseudo-relevance feedback (Rocchio-style query expansion — the
    * second-round retrieval trick behind "the query didn't say the
    * word but the corpus does"): round 1 is plain q83 BM25; the top
    * [[prfFeedbackDocs]] docs per query nominate their heaviest terms
    * (summed tf, ties → rarer df, then term — a total order), the
    * original terms are EXCLUDED (expansion must add vocabulary, not
    * re-weight it), and the query reruns with integer weights —
    * original terms ×2, expansion terms ×1 — so the reranked score is
    * still an exact integer sum and the two-round pipeline
    * hash-matches the oracle's CTE chain. Top-5 by the expanded
    * score.
    *
    * Scale shape: the posting/df/stats tables are built once and
    * shared by both rounds (localCheckpointed — the corpus is
    * scanned once); round-1 ranking, term nomination, and the
    * reranked join are all bounded by |queries|·k and the posting
    * lists of ≤ 5 terms per query.
    */
  def q188_bm25_prf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val terms = docs
      .select(col("doc_id"), T.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
    // Lineage.cut, not raw localCheckpoint: these are pure performance
    // materializations (both score() passes reuse them), and the cut is
    // audit-transparent (PlanContractsSpec sees the bounded plans below)
    val tf = graft.Lineage.cut(terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl")))
    val dft = graft.Lineage.cut(
      tf.groupBy("term").agg(count(lit(1)).as("df")))
    // corpus length from the materialized tf (Σtf = count(terms)
    // exactly), not a third tokenize pass over the raw text (§2.4)
    val stats = graft.Lineage.cut(docs.agg(count(lit(1)).as("n"))
      .crossJoin(tf.agg(sum(col("tf")).as("l")))
      .withColumn("adl", expr("l div n")))
    val queryTerms = bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val contrib =
      expr(s"($bm25Scale * (2*n - 2*df + 1) * 22 * adl * tf) div " +
        s"((2*df + 1) * (10 * adl * tf + 3 * adl + 9 * dl))")
    def score(qt: org.apache.spark.sql.DataFrame) =
      broadcast(qt).join(tf, "term").join(dft, "term")
        .crossJoin(broadcast(stats))
        .withColumn("contrib", contrib * col("w"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("contrib")).as("score"))
    val w1 = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    val r1 = score(queryTerms.withColumn("w", lit(1L)))
      .withColumn("rnk", row_number().over(w1))
      .filter(col("rnk") <= prfFeedbackDocs)
      .select("query_id", "doc_id")
    val wExp = Window.partitionBy("query_id")
      .orderBy(col("ftf").desc, col("df").asc, col("term").asc)
    val expTerms = r1.join(tf.select("doc_id", "term", "tf"), "doc_id")
      .groupBy("query_id", "term").agg(sum(col("tf")).as("ftf"))
      .join(queryTerms.withColumn("orig", lit(1)), Seq("query_id", "term"), "left_anti")
      .join(dft, "term")
      .withColumn("er", row_number().over(wExp))
      .filter(col("er") <= prfExpansionTerms)
      .select("query_id", "term")
    val q2 = queryTerms.withColumn("w", lit(2L))
      .unionByName(expTerms.withColumn("w", lit(1L)))
    score(q2)
      .withColumn("rnk", row_number().over(w1))
      .filter(col("rnk") <= bm25TopK)
      .select("query_id", "rnk", "doc_id", "score")
      .orderBy("query_id", "rnk")
  }

  val q188_oracle: String = {
    val tk = T.tokensSql("text")
    val values = bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    val contrib = (w: String) =>
      s"""CAST(sum((($bm25Scale * (2*n - 2*df + 1) * 22 * (l // n) * tf) //
         |  ((2*df + 1) * (10 * (l // n) * tf + 3 * (l // n) + 9 * dl))) * $w)
         |  AS BIGINT)""".stripMargin
    s"""WITH q AS (SELECT * FROM (VALUES $values) AS v(query_id, term)),
       |t AS (SELECT doc_id, $tk AS tk FROM documents),
       |terms AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS term
       |          FROM t),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |       FROM terms GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT (SELECT count(*) FROM t) AS n,
       |              (SELECT count(*) FROM terms) AS l),
       |sc1 AS (SELECT q.query_id, tf.doc_id, ${contrib("1")} AS score
       |  FROM q JOIN tf USING (term) JOIN dft USING (term) CROSS JOIN st
       |  GROUP BY 1, 2),
       |r1 AS (SELECT query_id, doc_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rnk FROM sc1)
       |  WHERE rnk <= $prfFeedbackDocs),
       |cand AS (
       |  SELECT r1.query_id, tf.term, CAST(sum(tf.tf) AS BIGINT) AS ftf
       |  FROM r1 JOIN tf USING (doc_id)
       |  GROUP BY 1, 2),
       |exp AS (SELECT query_id, term FROM (
       |    SELECT c.query_id, c.term,
       |      row_number() OVER (PARTITION BY c.query_id
       |        ORDER BY c.ftf DESC, dft.df ASC, c.term ASC) AS er
       |    FROM cand c
       |    JOIN dft ON dft.term = c.term
       |    LEFT JOIN q ON q.query_id = c.query_id AND q.term = c.term
       |    WHERE q.term IS NULL)
       |  WHERE er <= $prfExpansionTerms),
       |q2 AS (SELECT query_id, term, 2 AS w FROM q
       |       UNION ALL SELECT query_id, term, 1 FROM exp),
       |sc2 AS (SELECT q2.query_id, tf.doc_id, ${contrib("w")} AS score
       |  FROM q2 JOIN tf USING (term) JOIN dft USING (term) CROSS JOIN st
       |  GROUP BY 1, 2)
       |SELECT query_id, rnk, doc_id, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rnk FROM sc2)
       |WHERE rnk <= $bm25TopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---------- q178: MMR diversified reranking ----------

  /** Results to select per query (of the [[bm25TopK]] candidates). */
  val mmrK = 3

  /** Maximal-Marginal-Relevance reranking (Carbonell & Goldstein
    * 1998) at λ = 1/2 — the diversification stage after q83/q91: a
    * result list of five near-identical top-scoring documents wastes
    * four slots, so each pick maximizes `relevance − max similarity
    * to what's already picked`. Relevance is the rank-normalized BM25
    * position in ppm (rank-based, so the two axes share units);
    * similarity is embedding cosine floor-scaled to ppm (the q151
    * integer rule) — the greedy argmax at every step is therefore a
    * comparison of exact integers with a doc_id tiebreak, and the
    * ITERATIVE selection hash-matches the oracle's unrolled rounds.
    *
    * Scale shape: everything is candidate-bounded — |Q|·k relevance
    * rows, |Q|·k·(k−1) pairwise sims (localCheckpointed once; k is a
    * constant), and each of the k−1 greedy rounds is a window +
    * anti-join over those tiny tables. The corpus is touched only by
    * q83's own bounded machinery.
    */
  def q178_mmr(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    import org.apache.spark.sql.expressions.Window
    val cand = q83_bm25(spark, dir)
      .select(col("query_id"), col("doc_id"),
        expr(s"CAST((($bm25TopK - rnk + 1) * 1000000) DIV $bm25TopK AS BIGINT)")
          .as("rel_ppm"))
      .localCheckpoint()
    val dv = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), V.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", V.norm(col("v")))
    val cv = cand.join(dv, "doc_id")
    val sims = cv.select(col("query_id"), col("doc_id").as("d"),
        col("v").as("xv"), col("nrm").as("x_nrm"))
      .join(cv.select(col("query_id"), col("doc_id").as("o"),
        col("v").as("yv"), col("nrm").as("y_nrm")), Seq("query_id"))
      .filter(col("d") =!= col("o"))
      .select(col("query_id"), col("d"), col("o"),
        floor(V.cosineWithNorms(col("xv"), col("yv"), col("x_nrm"), col("y_nrm"))
          * 1000000L).cast("long").as("sim_ppm"))
      .localCheckpoint()
    val wPick = Window.partitionBy("query_id")
      .orderBy(col("mmr_ppm").desc, col("doc_id"))
    val picked1 = Fixpoint.cut(cand
      .withColumn("penalty_ppm", lit(0L))
      .withColumn("mmr_ppm", col("rel_ppm"))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("mmr_rank", lit(1)))
    // round r picks the (r + 1)-th result
    val picked = Fixpoint.rounds(mmrK - 1)(picked1) { (picked, r) =>
      val rem = cand.join(picked.select("query_id", "doc_id"),
        Seq("query_id", "doc_id"), "left_anti")
      val pen = sims
        .join(picked.select(col("query_id"), col("doc_id").as("o")),
          Seq("query_id", "o"))
        .groupBy(col("query_id"), col("d").as("doc_id"))
        .agg(max(col("sim_ppm")).as("penalty_ppm"))
      val pick = rem.join(pen, Seq("query_id", "doc_id"))
        .withColumn("mmr_ppm", col("rel_ppm") - col("penalty_ppm"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1).drop("rn")
        .withColumn("mmr_rank", lit(r + 1))
      Fixpoint.cut(picked.unionByName(pick))
    }
    picked
      .select("query_id", "mmr_rank", "doc_id", "rel_ppm", "penalty_ppm", "mmr_ppm")
      .orderBy("query_id", "mmr_rank")
  }

  val q178_oracle: String = {
    import graft.functions.{VectorFunctions => V}
    val cos = V.cosineSql("xv", "yv")
    val rounds = (2 to mmrK).map { i =>
      val prev = (1 until i).map(j => s"SELECT * FROM p$j").mkString(" UNION ALL ")
      s"""pk${i - 1} AS (SELECT query_id, doc_id FROM ($prev)),
         |p$i AS (
         |  SELECT c.query_id, c.doc_id, c.rel_ppm, pen.penalty_ppm,
         |    c.rel_ppm - pen.penalty_ppm AS mmr_ppm, $i AS mmr_rank
         |  FROM cand c
         |  JOIN (
         |    SELECT s.query_id, s.d AS doc_id,
         |      CAST(max(s.sim_ppm) AS BIGINT) AS penalty_ppm
         |    FROM sims s JOIN pk${i - 1} p ON s.query_id = p.query_id
         |      AND s.o = p.doc_id
         |    GROUP BY 1, 2) pen
         |    ON pen.query_id = c.query_id AND pen.doc_id = c.doc_id
         |  WHERE NOT EXISTS (SELECT 1 FROM pk${i - 1} p
         |    WHERE p.query_id = c.query_id AND p.doc_id = c.doc_id)
         |  QUALIFY row_number() OVER (PARTITION BY c.query_id
         |    ORDER BY mmr_ppm DESC, c.doc_id) = 1)""".stripMargin
    }.mkString(",\n")
    val all = (1 to mmrK).map(j => s"SELECT * FROM p$j").mkString(" UNION ALL ")
    s"""WITH bm25 AS ($bm25OracleBody),
       |cand AS (
       |  SELECT query_id, doc_id,
       |    CAST((($bm25TopK - rnk + 1) * 1000000) // $bm25TopK AS BIGINT)
       |      AS rel_ppm
       |  FROM bm25),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |cv AS (SELECT cand.query_id, cand.doc_id, e.v
       |       FROM cand JOIN e ON e.vec_id = cand.doc_id),
       |sims AS (
       |  SELECT x.query_id, x.doc_id AS d, y.doc_id AS o,
       |    CAST(floor(($cos) * 1000000) AS BIGINT) AS sim_ppm
       |  FROM (SELECT query_id, doc_id, v AS xv FROM cv) x
       |  JOIN (SELECT query_id, doc_id, v AS yv FROM cv) y
       |    ON x.query_id = y.query_id AND x.doc_id <> y.doc_id),
       |p1 AS (
       |  SELECT query_id, doc_id, rel_ppm, CAST(0 AS BIGINT) AS penalty_ppm,
       |    rel_ppm AS mmr_ppm, 1 AS mmr_rank
       |  FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel_ppm DESC, doc_id) = 1),
       |$rounds
       |SELECT query_id, mmr_rank, doc_id, rel_ppm, penalty_ppm, mmr_ppm
       |FROM ($all)
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  // ---------- q202: reciprocal-rank fusion ----------

  /** Reciprocal-Rank Fusion (Cormack et al. 2009 — the standard
    * score-free way to combine retrieval signals, and what most
    * hybrid-search engines ship as their default fusion): each
    * candidate's fused score is `Σ 1/(60 + rankᵢ)` over q91's two
    * rankings (BM25 lexical, cosine dense), here in exact micros
    * (`10⁶ DIV (60 + rnk)` per signal — integer DIV, so the fused
    * ORDER is bit-stable across engines, unlike float addition of
    * reciprocals). The fusion complement of q91 (which re-ranks by
    * one signal) and q193 (which measures signal agreement).
    *
    * Scale shape: runs entirely on q91's |queries|·topK candidate
    * rows; the fuse window is per-query over ≤ topK rows.
    */
  def q202_rrf_fusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    q91_hybrid_rerank(spark, dir)
      .withColumn("rrf_micro",
        expr("1000000 DIV (60 + bm25_rnk) + 1000000 DIV (60 + cos_rnk)"))
      .withColumn("rrf_rnk", row_number().over(w))
      .select("query_id", "rrf_rnk", "doc_id", "bm25_rnk", "cos_rnk", "rrf_micro")
      .orderBy("query_id", "rrf_rnk")
  }

  val q202_oracle: String = {
    import graft.functions.{VectorFunctions => V}
    val cos = V.cosineSql("qv", "nv")
    s"""WITH bm25 AS ($bm25OracleBody),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |j AS (
       |  SELECT bm25.query_id, bm25.doc_id, bm25.rnk AS bm25_rnk, $cos AS cos
       |  FROM bm25
       |  JOIN (SELECT vec_id, v AS nv FROM e) d ON bm25.doc_id = d.vec_id
       |  JOIN (SELECT CAST(vec_id AS INT) AS query_id, v AS qv FROM e) q
       |    USING (query_id)),
       |r AS (
       |  SELECT query_id, doc_id, bm25_rnk,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id)
       |      AS cos_rnk
       |  FROM j),
       |f AS (
       |  SELECT *, CAST(1000000 // (60 + bm25_rnk)
       |    + 1000000 // (60 + cos_rnk) AS BIGINT) AS rrf_micro
       |  FROM r)
       |SELECT query_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micro DESC, doc_id) AS INT) AS rrf_rnk,
       |  doc_id, bm25_rnk, cos_rnk, rrf_micro
       |FROM f ORDER BY query_id, rrf_rnk""".stripMargin
  }

  // ---------- q224: incremental BM25 index update ----------

  /** Index MAINTENANCE for the BM25 artifact — q84 is the build-once
    * half; this is the ingest half (q94's story for the retrieval
    * index, where unlike MinHash signatures the statistics are NOT
    * append-only): the arriving batch's postings append as new files
    * (no existing file rewritten), document frequencies merge as a
    * VOCAB-SIZED full-outer sum (old df table ⊎ batch df — never a
    * rescan of existing text or postings), and the 1-row corpus stats
    * add the batch delta. A new df/stats VERSION is written beside the
    * old (the snapshot-swap pattern `io/SnapshotSwap` gives the
    * consolidated table) and q83's query set scores from the merged
    * artifact. The oracle is q83's full-corpus oracle VERBATIM:
    * incremental maintenance must be indistinguishable from a
    * from-scratch rebuild — the same contract q94 (signatures) and
    * q209 (heavy hitters) pin for their state.
    *
    * Scale shape: the refresh is O(batch text + vocab): one batch
    * tokenize/aggregate (checkpointed so append/df/stats share it),
    * one vocab-keyed merge shuffle, a 1-row add. Existing postings are
    * touched only by the final query probe, exactly as q84 argues
    * (term-bucketed on a cluster). The content-hash eighth plays "the
    * batch", like q73/q94.
    */
  def q224_bm25_index_update(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q224-") { work =>
      val isBatch =
        substring(md5(concat(lit("b73|"), col("doc_id").cast("string"))), 1, 1)
          .isin("0", "1")
      val docs = Tables.load(spark, dir, "documents")
      def termsOf(flag: org.apache.spark.sql.Column) = docs.filter(flag)
        .select(col("doc_id"), T.tokens(col("text")).as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          explode(col("tk")).as("term"))

      // epoch 0: build from the EXISTING corpus only (q84's build)
      val t0 = termsOf(!isBatch)
      t0.groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .write.parquet(s"$work/postings")
      spark.read.parquet(s"$work/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .write.parquet(s"$work/df_v0")
      docs.filter(!isBatch).agg(count(lit(1)).as("n"))
        // Σtf over the epoch-0 postings just written — not a second
        // tokenize of the existing corpus (§2.4)
        .crossJoin(spark.read.parquet(s"$work/postings")
          .agg(sum(col("tf")).as("l")))
        .write.parquet(s"$work/stats_v0")

      // ingest: ONE batch pass (checkpointed — append, df delta and
      // stats delta all read it, none re-tokenizes), then vocab-sized
      // merge + 1-row stats add; existing postings never re-read
      val tb = termsOf(isBatch).localCheckpoint()
      val bPost = tb.groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .localCheckpoint()
      bPost.write.mode("append").parquet(s"$work/postings")
      spark.read.parquet(s"$work/df_v0")
        .join(bPost.groupBy("term").agg(count(lit(1)).as("df_b")),
          Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("df_b"), lit(0L)))
            .as("df"))
        .write.parquet(s"$work/df_v1")
      spark.read.parquet(s"$work/stats_v0")
        .crossJoin(docs.filter(isBatch).agg(count(lit(1)).as("n_b")))
        .crossJoin(tb.agg(count(lit(1)).as("l_b")))
        .select((col("n") + col("n_b")).as("n"), (col("l") + col("l_b")).as("l"))
        .write.parquet(s"$work/stats_v1")

      // reopen the MERGED artifact — q84's probe, new versions swapped in
      val tf = spark.read.parquet(s"$work/postings")
      val dft = spark.read.parquet(s"$work/df_v1")
      val stats = spark.read.parquet(s"$work/stats_v1")
        .withColumn("adl", expr("l div n"))
      val queryTerms = bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
      broadcast(queryTerms)
        .join(tf, "term")
        .join(dft, "term")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          expr(s"($bm25Scale * (2*n - 2*df + 1) * 22 * adl * tf) div " +
            s"((2*df + 1) * (10 * adl * tf + 3 * adl + 9 * dl))"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("contrib")).as("score"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rnk") <= bm25TopK)
        .select("query_id", "doc_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    }
  }

  /** q83's oracle verbatim — see [[q224_bm25_index_update]]. */
  val q224_oracle: String = q83_oracle

  // ---------- q316: BM25 ingest as a STREAM ----------

  /** q224's ingest leg as a STREAM, in delta-log form: each arriving
    * micro-batch appends its postings AND a 1-row (n, l) stats delta
    * (foreachBatch — no state store, no version swap); the reader
    * derives df from the merged postings (each (term, doc) pair
    * arrives in exactly one batch, so the posting count per term IS
    * df) and sums the stats deltas. Where q224 maintains df/stats by
    * versioned merge, the stream form uses the same merge-on-read
    * discipline as the LM log (q309) — both are valid maintenance
    * disciplines, and the scoring from the drained log must be
    * indistinguishable from a from-scratch build: q83's oracle
    * verbatim. Three index families now prove streaming ingest
    * against generated SQL (signature q317, LM q309, BM25 here).
    */
  def q316_stream_bm25_ingest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q316-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      CurationFlow.stageTwoBatches(spark, work, docs, "doc_id",
        feed = Some(dir -> "documents"))
      FileFeed.drain(spark, s"$work/incoming", docs.schema, s"$work/ckpt")(
        _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          val t = batch
            .select(col("doc_id"), T.tokens(col("text")).as("tk"))
            .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
              explode(col("tk")).as("term"))
            .localCheckpoint()
          // batchId-keyed idempotent appends: foreachBatch is
          // at-least-once, and a replayed blind append would inflate
          // df/tf AND the (n, l) stats — BatchLog makes both deltas
          // overwrite-on-replay
          graft.io.BatchLog.append(
            t.groupBy("term", "doc_id")
              .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl")),
            s"$work/postings", batchId)
          graft.io.BatchLog.append(
            batch.agg(count(lit(1)).as("n"))
              .crossJoin(t.agg(count(lit(1)).as("l"))),
            s"$work/stats", batchId)
          ()
        })
      // merge-on-read: df derived from the merged postings, stats
      // deltas summed — then q84's probe verbatim
      val tf = graft.io.BatchLog.read(spark, s"$work/postings")
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = graft.io.BatchLog.read(spark, s"$work/stats")
        .agg(sum(col("n")).as("n"), sum(col("l")).as("l"))
        .withColumn("adl", expr("l div n"))
      val queryTerms = bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
      broadcast(queryTerms)
        .join(tf, "term")
        .join(dft, "term")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          expr(s"($bm25Scale * (2*n - 2*df + 1) * 22 * adl * tf) div " +
            s"((2*df + 1) * (10 * adl * tf + 3 * adl + 9 * dl))"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("contrib")).as("score"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rnk") <= bm25TopK)
        .select("query_id", "doc_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    }
  }

  /** q83's oracle verbatim — see [[q316_stream_bm25_ingest]]. */
  val q316_oracle: String = q83_oracle

  // ---------- q230: BM25 index erasure ----------

  /** The DELETE leg for the RETRIEVAL index — q229's story where the
    * statistics fight back: dropping a document's postings is the
    * stateless part (tombstone anti-join, as q229), but BM25's scoring
    * state must SHRINK with it — df decrements by the erased docs'
    * distinct terms (a vocab-sized merge of a request-sized delta,
    * never a rescan of surviving text), and the 1-row corpus stats
    * subtract the erased doc/token counts. A new df/stats version is
    * written beside the old (same swap discipline as q224's append
    * leg). The oracle is q83's scoring over the surviving documents
    * verbatim: erase ≡ rebuild-without, completing the lifecycle
    * matrix — build q84 / append q224 / ERASE q230 — the way
    * build q76 / append q94 / erase q229 closes it for signatures.
    *
    * Scale shape: the erased postings are re-derived from the STORED
    * postings by the tombstone anti-join (no text touched); the df
    * delta aggregates the erased postings only (request-sized), merges
    * vocab-keyed; stats subtract in one row. No broadcast hint on the
    * tombstone or delta sides (an erasure batch can be
    * corpus-fraction-sized; AQE decides). The `del|` eighth plays the
    * request, matching q229.
    */
  def q230_bm25_erasure(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q230-") { work =>
      // build (q84's artifact over the full corpus)
      val docs = Tables.load(spark, dir, "documents")
      val terms = docs
        .select(col("doc_id"), T.tokens(col("text")).as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          explode(col("tk")).as("term"))
      terms.groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .write.parquet(s"$work/postings")
      spark.read.parquet(s"$work/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .write.parquet(s"$work/df_v0")
      docs.agg(count(lit(1)).as("n"))
        // corpus length from the just-written postings (Σtf = count of
        // term occurrences, exactly) — not a second tokenize pass (§2.4)
        .crossJoin(spark.read.parquet(s"$work/postings")
          .agg(sum(col("tf")).as("l")))
        .write.parquet(s"$work/stats_v0")

      // erase: tombstones mask postings; df decrements by the erased
      // docs' distinct-term delta; stats subtract the erased counts.
      // Everything derives from STORED columns — no text re-read.
      val erased =
        substring(md5(concat(lit("del|"), col("doc_id").cast("string"))), 1, 1)
          .isin("0", "1")
      val tombstones = docs.filter(erased).select("doc_id")
      val stored = spark.read.parquet(s"$work/postings")
      val erasedPost = stored.join(tombstones, Seq("doc_id"), "left_semi")
        .localCheckpoint() // df delta and stats delta share it
      spark.read.parquet(s"$work/df_v0")
        .join(erasedPost.groupBy("term").agg(count(lit(1)).as("df_e")),
          Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("df_e"), lit(0L))).as("df"))
        .filter(col("df") > 0)
        .write.parquet(s"$work/df_v1")
      spark.read.parquet(s"$work/stats_v0")
        .crossJoin(tombstones.agg(count(lit(1)).as("n_e")))
        .crossJoin(erasedPost.agg(coalesce(sum(col("tf")), lit(0L)).as("l_e")))
        .select((col("n") - col("n_e")).as("n"), (col("l") - col("l_e")).as("l"))
        .write.parquet(s"$work/stats_v1")

      // score q83's query set from the erased artifact
      val tf = spark.read.parquet(s"$work/postings")
        .join(tombstones, Seq("doc_id"), "left_anti")
      val dft = spark.read.parquet(s"$work/df_v1")
      val stats = spark.read.parquet(s"$work/stats_v1")
        .withColumn("adl", expr("l div n"))
      val queryTerms = bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
      broadcast(queryTerms)
        .join(tf, "term")
        .join(dft, "term")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          expr(s"($bm25Scale * (2*n - 2*df + 1) * 22 * adl * tf) div " +
            s"((2*df + 1) * (10 * adl * tf + 3 * adl + 9 * dl))"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("contrib")).as("score"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rnk") <= bm25TopK)
        .select("query_id", "doc_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    }
  }

  /** q83's scoring over the surviving documents — the rebuild-without
    * the erasure must be indistinguishable from. The l statistic in
    * the erased version subtracts STORED tf sums, which equals the
    * surviving corpus's total token count exactly (Σ tf over a doc's
    * postings = its token count).
    */
  val q230_oracle: String = {
    val erasedFlag =
      "substring(md5(concat('del|', CAST(doc_id AS VARCHAR))), 1, 1) IN ('0', '1')"
    bm25OracleBodyFrom("survivors",
      s"survivors AS (SELECT * FROM documents WHERE NOT ($erasedFlag)),\n") +
      " ORDER BY query_id, rnk"
  }

  // ---------- q286: BM25 index compaction ----------

  /** COMPACTION for the retrieval index — q261's closing step applied
    * to BM25, finishing what q230 leaves open: the masked read is
    * correct but pays the tombstone anti-join on every query forever,
    * and the erased postings still sit on disk (a GDPR erasure is not
    * done until the bytes are gone). Compaction rewrites the postings
    * WITHOUT the tombstoned rows as a new version beside the already-
    * decremented df/stats (q230's deltas ARE the compacted statistics
    * — nothing about them changes, the rewrite only drops rows the
    * scoring state already stopped counting); a post-compaction read
    * needs NO mask and MUST equal the masked read bit-for-bit. The
    * oracle is q230's verbatim (compacted ≡ masked ≡ rebuild-without,
    * q261's rule), and Round15OpsSpec pins that no erased doc survives
    * in the compacted read path.
    *
    * Scale shape: ONE doc-keyed anti-join + a linear postings rewrite
    * (the only full pass — a compaction's cost by definition, amortized
    * over every subsequent query dropping its anti-join); the df/stats
    * versions are vocab-sized / 1-row and carry over unchanged.
    */
  def q286_bm25_compact(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q286-") { work =>
      // build (q84's artifact) + erase (q230's tombstones and deltas)
      val docs = Tables.load(spark, dir, "documents")
      val terms = docs
        .select(col("doc_id"), T.tokens(col("text")).as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          explode(col("tk")).as("term"))
      terms.groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .write.parquet(s"$work/postings")
      spark.read.parquet(s"$work/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .write.parquet(s"$work/df_v0")
      docs.agg(count(lit(1)).as("n"))
        // corpus length from the just-written postings (Σtf = count of
        // term occurrences, exactly) — not a second tokenize pass (§2.4)
        .crossJoin(spark.read.parquet(s"$work/postings")
          .agg(sum(col("tf")).as("l")))
        .write.parquet(s"$work/stats_v0")
      val erased =
        substring(md5(concat(lit("del|"), col("doc_id").cast("string"))), 1, 1)
          .isin("0", "1")
      val tombstones = docs.filter(erased).select("doc_id")
      val stored = spark.read.parquet(s"$work/postings")
      val erasedPost = stored.join(tombstones, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      spark.read.parquet(s"$work/df_v0")
        .join(erasedPost.groupBy("term").agg(count(lit(1)).as("df_e")),
          Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("df_e"), lit(0L))).as("df"))
        .filter(col("df") > 0)
        .write.parquet(s"$work/df_v1")
      spark.read.parquet(s"$work/stats_v0")
        .crossJoin(tombstones.agg(count(lit(1)).as("n_e")))
        .crossJoin(erasedPost.agg(coalesce(sum(col("tf")), lit(0L)).as("l_e")))
        .select((col("n") - col("n_e")).as("n"), (col("l") - col("l_e")).as("l"))
        .write.parquet(s"$work/stats_v1")

      // COMPACT: the postings rewrite without the tombstoned rows —
      // the one full pass; df_v1/stats_v1 carry over unchanged
      stored.join(tombstones, Seq("doc_id"), "left_anti")
        .write.parquet(s"$work/postings_v1")

      // score q83's query set from the compacted artifact, NO mask
      val tf = spark.read.parquet(s"$work/postings_v1")
      val dft = spark.read.parquet(s"$work/df_v1")
      val stats = spark.read.parquet(s"$work/stats_v1")
        .withColumn("adl", expr("l div n"))
      val queryTerms = bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
      broadcast(queryTerms)
        .join(tf, "term")
        .join(dft, "term")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          expr(s"($bm25Scale * (2*n - 2*df + 1) * 22 * adl * tf) div " +
            s"((2*df + 1) * (10 * adl * tf + 3 * adl + 9 * dl))"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("contrib")).as("score"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rnk") <= bm25TopK)
        .select("query_id", "doc_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    }
  }

  /** Compaction ≡ masked read, by construction and by gate (q261's
    * rule applied to BM25). */
  val q286_oracle: String = q230_oracle

  // ---------- q324: threshold-driven BM25 auto-compaction ----------

  /** The accumulated-erasure feed for the policy leg: 6/16 of docs —
    * the operational point (many requests landed, none compacted yet)
    * where a rewrite genuinely pays. */
  private[queries] def bm25AcErased(idCol: Column): Column =
    substring(md5(concat(lit("bmac|"), idCol.cast("string"))), 1, 1)
      .isin("0", "1", "2", "3", "4", "5")

  /** q322's threshold policy applied to the SECOND artifact shape:
    * the BM25 postings are tombstone-MASKED (q230's discipline), not
    * a +/- delta log, so the waste a reader pays is the tombstoned
    * posting rows the anti-join filters on EVERY query. The policy
    * reads only stored state (postings + tombstone table), folds iff
    * tombstoned-row fraction exceeds the shared
    * [[graft.queries.LanguageModel.autoCompactThresholdPpm]], and
    * leaves a healthy index untouched. Both branches drive in one
    * oracle-gated report (the 6/16 accumulated feed = 375000 ppm >
    * threshold → folds; an empty tombstone table = 0 → byte-identical
    * no-op), integers end to end so DuckDB recomputes the whole
    * policy from the raw corpus.
    *
    * Scale shape: the decision is two counts over stored columns; the
    * fold is q286's one anti-join rewrite; nothing re-reads text.
    */
  private[queries] def q324Flow(
      spark: SparkSession, dir: String, work: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("doc_id"), T.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .write.parquet(s"$work/postings")
    docs.filter(bm25AcErased(col("doc_id"))).select("doc_id")
      .write.parquet(s"$work/tombs_erased")
    docs.filter(lit(false)).select("doc_id")
      .write.parquet(s"$work/tombs_clean")
    val threshold = LanguageModel.autoCompactThresholdPpm
    Seq("clean" -> s"$work/tombs_clean", "erased" -> s"$work/tombs_erased")
      .map { case (leg, tombPath) =>
        val post = spark.read.parquet(s"$work/postings")
        val tombs = spark.read.parquet(tombPath)
        val decision = post
          .agg(count(lit(1)).cast("long").as("n_postings"))
          .crossJoin(post.join(tombs, Seq("doc_id"), "left_semi")
            .agg(count(lit(1)).cast("long").as("n_tomb_rows")))
          .withColumn("waste_ppm",
            expr("(n_tomb_rows * 1000000) DIV n_postings"))
          .head()
        val (nPost, nTomb, waste) =
          (decision.getLong(0), decision.getLong(1), decision.getLong(2))
        val compacted = waste > threshold
        if (compacted)
          post.join(tombs, Seq("doc_id"), "left_anti")
            .write.parquet(s"$work/postings_${leg}_v1")
        val readPath =
          if (compacted) s"$work/postings_${leg}_v1" else s"$work/postings"
        val after = spark.read.parquet(readPath)
          .agg(count(lit(1)).cast("long").as("n_postings_after"))
        after
          .withColumn("leg", lit(leg))
          .withColumn("n_postings", lit(nPost))
          .withColumn("n_tomb_rows", lit(nTomb))
          .withColumn("waste_ppm", lit(waste))
          .withColumn("compacted", lit(if (compacted) 1L else 0L))
          .select("leg", "n_postings", "n_tomb_rows", "waste_ppm",
            "compacted", "n_postings_after")
      }
      .reduce(_ unionByName _)
      .orderBy("leg")
  }

  def q324_bm25_auto_compact(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q324-")(q324Flow(spark, dir, _))

  /** The policy recomputed from the raw corpus: posting rows are the
    * distinct (term, doc_id) pairs, tombstoned rows those of the
    * bmac| six-sixteenths, the branch decision and after-count pure
    * arithmetic on them. */
  val q324_oracle: String = {
    val tk = T.tokensSql("text")
    val erased =
      "substring(md5(concat('bmac|', CAST(doc_id AS VARCHAR))), 1, 1) " +
        "IN ('0', '1', '2', '3', '4', '5')"
    s"""WITH t AS (SELECT doc_id, $erased AS er, $tk AS tk FROM documents),
       |p AS (
       |  SELECT DISTINCT doc_id, er, unnest(tk) AS term FROM t),
       |c AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_postings,
       |    CAST(count(CASE WHEN er THEN 1 END) AS BIGINT) AS n_tomb_rows
       |  FROM p),
       |legs AS (
       |  SELECT 'clean' AS leg, n_postings, CAST(0 AS BIGINT) AS n_tomb_rows
       |  FROM c
       |  UNION ALL SELECT 'erased', n_postings, n_tomb_rows FROM c),
       |decided AS (
       |  SELECT leg, n_postings, n_tomb_rows,
       |    (n_tomb_rows * 1000000) // n_postings AS waste_ppm,
       |    CASE WHEN (n_tomb_rows * 1000000) // n_postings
       |      > ${LanguageModel.autoCompactThresholdPpm} THEN 1 ELSE 0 END
       |      AS compacted
       |  FROM legs)
       |SELECT leg, n_postings, n_tomb_rows,
       |  CAST(waste_ppm AS BIGINT) AS waste_ppm,
       |  CAST(compacted AS BIGINT) AS compacted,
       |  CASE WHEN compacted = 1 THEN n_postings - n_tomb_rows
       |    ELSE n_postings END AS n_postings_after
       |FROM decided ORDER BY leg""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q324_bm25_auto_compact" -> (q324_bm25_auto_compact _),
    "q224_bm25_index_update" -> (q224_bm25_index_update _),
    "q316_stream_bm25_ingest" -> (q316_stream_bm25_ingest _),
    "q230_bm25_erasure" -> (q230_bm25_erasure _),
    "q286_bm25_compact" -> (q286_bm25_compact _),
    "q202_rrf_fusion" -> (q202_rrf_fusion _),
    "q178_mmr" -> (q178_mmr _),
    "q188_bm25_prf" -> (q188_bm25_prf _),
    "q193_rank_correlation" -> (q193_rank_correlation _),
    "q81_span_dedup" -> (q81_span_dedup _),
    "q82_boilerplate" -> (q82_boilerplate _),
    "q83_bm25" -> (q83_bm25 _),
    "q84_bm25_index_persist" -> (q84_bm25_index_persist _),
    "q91_hybrid_rerank" -> (q91_hybrid_rerank _),
    "q123_span_scrub" -> (q123_span_scrub _))

  val oracles: Map[String, String] = Map(
    "q324_bm25_auto_compact" -> q324_oracle,
    "q224_bm25_index_update" -> q224_oracle,
    "q316_stream_bm25_ingest" -> q316_oracle,
    "q230_bm25_erasure" -> q230_oracle,
    "q286_bm25_compact" -> q286_oracle,
    "q202_rrf_fusion" -> q202_oracle,
    "q178_mmr" -> q178_oracle,
    "q188_bm25_prf" -> q188_oracle,
    "q193_rank_correlation" -> q193_oracle,
    "q81_span_dedup" -> q81_oracle,
    "q82_boilerplate" -> q82_oracle,
    "q83_bm25" -> q83_oracle,
    "q84_bm25_index_persist" -> q84_oracle,
    "q91_hybrid_rerank" -> q91_oracle,
    "q123_span_scrub" -> q123_oracle)
}
