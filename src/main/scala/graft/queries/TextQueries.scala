package graft.queries

import graft.Tables
import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.io.Artifacts
import graft.streaming.FileFeed
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis and near-dup operators over `documents`
  * (SURVEY §2 #19–#27). All per-document work is narrow expressions;
  * only candidate-pair generation shuffles, and only by LSH bucket.
  */
object TextQueries extends graft.QueryFamily {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // ---------- q19: token counting ----------

  def q19_token_count(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        size(T.tokens(col("text"))).as("n_ws_tokens"),
        T.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).as("n_text_chars"))
      .orderBy("doc_id")

  val q19_oracle: String =
    s"""SELECT doc_id,
       |  len(${T.tokensSql("text")}) AS n_ws_tokens,
       |  ${T.bpeTokenCountSql("text")} AS n_bpe_tokens,
       |  length(text) AS n_text_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- q20: language identification ----------

  def q20_lang_id(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", T.tokens(col("text")))
      .select(
        col("doc_id"), col("lang").as("declared_lang"),
        T.langId(col("toks")).as("detected_lang"),
        T.stopwordCount(col("toks"), T.stopwords.head._2).as("en_stopwords"))
      .orderBy("doc_id")

  val q20_oracle: String = {
    val toks = T.tokensSql("text")
    s"""SELECT doc_id, lang AS declared_lang,
       |  ${T.langIdSql(toks)} AS detected_lang,
       |  ${T.stopwordCountSql(toks, T.stopwords.head._2)} AS en_stopwords
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------- q21: quality scoring ----------

  def q21_quality_score(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), T.qualityScore(col("text")).as("quality"))
      .filter(col("quality") > 0.4)
      .orderBy("doc_id")

  val q21_oracle: String =
    s"""SELECT doc_id, ${T.qualityScoreSql("text")} AS quality
       |FROM documents
       |WHERE ${T.qualityScoreSql("text")} > 0.4
       |ORDER BY doc_id""".stripMargin

  // ---------- q22: document fingerprint ----------

  def q22_fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        T.fingerprint(col("text")).as("fp"),
        md5(col("text")).as("content_md5"))
      .orderBy("doc_id")

  val q22_oracle: String =
    s"""SELECT doc_id, ${T.fingerprintSql("text")} AS fp, md5(text) AS content_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- q23: exact dedup ----------

  /** Exact dedup by content hash: one representative (min doc_id) per
    * distinct text. Hash-groupBy with partial aggregation — the
    * canonical first pass of any corpus dedup at 100 TB (group by
    * md5, not by the full text, so the shuffle carries 32-byte keys).
    */
  def q23_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(
        min(col("doc_id")).as("rep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("rep_doc_id")

  val q23_oracle: String =
    """SELECT md5(text) AS content_md5, min(doc_id) AS rep_doc_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY rep_doc_id""".stripMargin

  // ---------- q24: MinHash signatures ----------

  val minhashK = 12
  val lshBands = 3
  val lshRows = 4 // minhashK / lshBands

  /** Signature table builder shared by q24/q25/q47/q60/q68/q73:
    * shingles → k=12 signature components, computed by the native
    * one-pass [[graft.plans.MinHashSig]] expression (same salted-md5
    * slice values as the declarative
    * `saltedHashes`/`minhashFromHashes` composition — MinHashSigSpec
    * pins the equality; the DuckDB oracles still speak the
    * declarative form). toks/sh/sig materialize as separate
    * projections: sig is referenced twelve times and a non-cheap
    * multi-referenced alias must stay its own column or Catalyst
    * would re-evaluate it per reference.
    */
  private def sigTable(spark: SparkSession, dir: String): DataFrame =
    sigTableOf(docs(spark, dir))

  /** [[sigTable]] over any (doc_id, text) frame — the per-batch form
    * the streaming ingest leg (q317) runs on each arriving
    * micro-batch. */
  private[queries] def sigTableOf(d: DataFrame): DataFrame = {
    // shingles3 fuses tokenize+shingle (non-empty shingles ⟺ ≥3
    // tokens, so the degenerate-doc filter moves onto sh); with
    // minhash_sig also native, the whole signature stage runs inside
    // whole-stage codegen — no token array, no lambda interpretation
    val base = d
      .select(col("doc_id"), call_function("shingles3", col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", call_function("minhash_sig", col("sh")))
    val sigCols = (0 until minhashK).map(i =>
      element_at(col("sig"), i + 1).as(f"mh$i%02d"))
    base.select(Seq(col("doc_id"), col("sh")) ++ sigCols: _*)
  }

  /** DuckDB twin of [[sigTable]] (FROM-clause fragment ending in an
    * aliased subquery named sig).
    */
  private def sigTableSql: String = {
    val sh = H.shinglesSql(T.tokensSql("text"))
    val sigSelects = (0 until minhashK).map(i =>
      s"${H.minhashFromHashesSql(s"hs${i / 6}", i % 6)} AS " + f"mh$i%02d")
    s"""(SELECT doc_id, sh, ${sigSelects.mkString(", ")}
       | FROM (SELECT doc_id, sh,
       |         ${H.saltedHashesSql("sh", 0)} AS hs0,
       |         ${H.saltedHashesSql("sh", 1)} AS hs1
       |       FROM (SELECT doc_id, $sh AS sh FROM documents)
       |       WHERE len(sh) > 0)) sig""".stripMargin
  }

  def q24_minhash_sig(spark: SparkSession, dir: String): DataFrame =
    sigTable(spark, dir).drop("sh").orderBy("doc_id")

  val q24_oracle: String = {
    val cols = (0 until minhashK).map(i => f"mh$i%02d").mkString(", ")
    s"SELECT doc_id, $cols FROM $sigTableSql ORDER BY doc_id"
  }

  // ---------- q25: MinHash-LSH candidate pairs + Jaccard verify ----------

  /** Session-lifetime STORED signature index — the q76 lifecycle
    * promoted to the family's runtime artifact. The first LSH consumer
    * in a session builds (doc_id, skd, mh00..) once from raw text and
    * writes it to parquet; every later consumer (q25/q47/q60/q68/q86)
    * reads the stored columns instead of re-shingling the corpus per
    * query. Disk-backed rather than cached so it survives Bench's
    * per-query clearCache isolation — exactly the build-once,
    * amortize-everywhere deal a 100 TB deployment runs on (there the
    * path would be a permanent table, not a session temp dir).
    */
  private def sigIndex(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, "sigidx", dir) {
      sigTable(spark, dir)
        .withColumn("skd", array_distinct(H.shingleKeys(col("sh"))))
        .drop("sh")
    }

  /** (doc_id, skd, band, bucket) from a stored signature index — one
    * row per document per LSH band, shared by the corpus self-join
    * ([[pairsFromIndex]]) and the batch-vs-corpus join (q73).
    */
  private def bandsFromIndex(stored: DataFrame): DataFrame = {
    val sig = (0 until minhashK).map(i => col(f"mh$i%02d"))
    stored.select(col("doc_id"), col("skd"),
      posexplode(array((0 until lshBands).map(b => H.bandBucket(sig, b, lshRows)): _*))
        .as(Seq("band", "bucket")))
  }

  /** Jaccard over stored 60-bit shingle-key sets, in the exact
    * operation order the DuckDB twin shares bit-for-bit (ints sized,
    * cast to double, one division). Equals shingle-STRING Jaccard —
    * identical md5-derived keys in both engines (q76's oracle pins
    * the equivalence against the from-text build).
    */
  private def keyJaccard(aSk: Column, bSk: Column): Column = {
    val inter = call_function("intersect_count", aSk, bSk).cast("double")
    val uni = (size(aSk) + size(bSk)).cast("double") - inter
    inter / uni
  }

  /** q25's near-dup pairs computed purely from a stored signature
    * index (band buckets from the stored signature columns, Jaccard
    * verify over the stored shingle-key sets — raw text is never
    * touched).
    */
  private def pairsFromIndex(stored: DataFrame): DataFrame = {
    val bands = bandsFromIndex(stored)
    val a = bands.select(col("band"), col("bucket"),
      col("doc_id").as("a_id"), col("skd").as("a_sk"))
    val b = bands.select(col("band"), col("bucket"),
      col("doc_id").as("b_id"), col("skd").as("b_sk"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        keyJaccard(col("a_sk"), col("b_sk")).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= 0.8)
  }

  /** LSH banding: equal band-bucket ⇒ candidate; candidates are then
    * verified with true Jaccard over stored shingle keys. The
    * self-join is on (band, bucket) — at corpus scale each bucket
    * holds a handful of docs, so the join output is near-linear, not
    * quadratic. Reads the session's stored [[sigIndex]] (built once),
    * so the q47/q60/q68/q86 family stopped re-tokenizing the corpus
    * once per query.
    */
  private[queries] def lshPairs(spark: SparkSession, dir: String): DataFrame =
    pairsFromIndex(sigIndex(spark, dir))

  def q25_minhash_lsh_pairs(spark: SparkSession, dir: String): DataFrame =
    lshPairs(spark, dir).orderBy("a_id", "b_id")

  /** Session-lifetime STORED near-dup cluster labels — the [[sigIndex]]
    * rule applied to the cluster-RESOLUTION step. Twelve consumers
    * (q47/q60/q86/q200/q212/q220/q223/q231/q232/q234 and both declared-
    * funnel interpreters) each ran ConnectedComponents over the SAME
    * verified pair set, paying the pair materialization plus 2–4
    * min-label rounds per query (guide §2.4: a repeated multi-shuffle
    * pass none of them needed to own). The first consumer resolves the
    * clusters once from the stored signature index and writes the
    * (id, component) label table to scratch parquet; every later
    * consumer reads the stored labels — exactly the artifact a 100 TB
    * dedup deployment keeps beside its signature index (labels change
    * only when the index does, and the index-maintenance legs
    * q94/q317 rebuild pairs from their OWN fresh artifacts, never
    * this one). One (id, component) row per vertex appearing in any
    * verified pair; component = min reachable doc id
    * (ConnectedComponents' contract).
    */
  private[queries] def dupClusters(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, "cclbl", dir) {
      val pairs = lshPairs(spark, dir)
        .select("a_id", "b_id").transform(graft.Lineage.cut)
      graft.operators.ConnectedComponents.run(pairs, "a_id", "b_id")
    }

  /** `base AS (…), bands AS (…)` CTE prefix over the STORED-index
    * columns (skd + signature) — the DuckDB twin of
    * [[bandsFromIndex]]; `extraCol` appends one computed column
    * (expr, name) — e.g. q73's batch flag — to both CTEs.
    */
  private def indexBandsCteSql(extraCol: Option[(String, String)]): String = {
    val sigSql = (0 until minhashK).map(i => f"mh$i%02d")
    val buckets = (0 until lshBands).map(b =>
      s"${H.bandBucketSql(sigSql, b, lshRows)} AS bucket$b")
    val extraDef = extraCol.map { case (e, n) => s", $e AS $n" }.getOrElse("")
    val extraRef = extraCol.map { case (_, n) => s", $n" }.getOrElse("")
    val bandUnion = (0 until lshBands).map(b =>
      s"SELECT doc_id, skd, $b AS band, bucket$b AS bucket$extraRef FROM base")
      .mkString(" UNION ALL ")
    s"""base AS (
       |  SELECT doc_id, list_distinct(${H.shingleKeysSql("sh")}) AS skd,
       |    ${buckets.mkString(", ")}$extraDef
       |  FROM $sigTableSql),
       |bands AS ($bandUnion)""".stripMargin
  }

  /** DuckDB twin of [[keyJaccard]] over table aliases with a `skd`
    * column — same operation order, so both engines agree bitwise.
    */
  private def keyJaccardSql(a: String, b: String): String = {
    val inter = s"CAST(len(list_intersect($a.skd, $b.skd)) AS DOUBLE)"
    s"$inter /\n   (CAST(len($a.skd) + len($b.skd) AS DOUBLE) - $inter)"
  }

  /** DuckDB twin of [[lshPairs]] (no ORDER BY — embeddable as a CTE).
    * Jaccard over 60-bit shingle KEYS, matching the stored-index read
    * path the Spark side runs — same pair set and bit-identical
    * jaccard as the shingle-string form (q76 pinned the equivalence
    * while both forms coexisted).
    */
  private[queries] val lshPairsSql: String =
    s"""WITH ${indexBandsCteSql(None)}
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  ${keyJaccardSql("a", "b")} AS jaccard
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |WHERE ${keyJaccardSql("a", "b")} >= 0.8""".stripMargin

  val q25_oracle: String = s"$lshPairsSql\nORDER BY a_id, b_id"

  // ---------- q270: near-dup source matrix ----------

  /** The size-NORMALIZED companion to q68's raw dup-pair counts: a
    * big source pair shows more near-dup pairs than a small one even
    * at the same underlying copy rate, so the review-grade number is
    * pairs per MILLION OPPORTUNITIES — n_pairs·10⁶ ∕ (nₐ·n_b)
    * off-diagonal, ∕ C(n,2) on the diagonal — plus the min/max
    * jaccard bounding each cell's similarity range (exact ratios —
    * never averaged floats). The opportunity denominator is a
    * DECIMAL(38,0) product with an integral `div`: nₐ·n_b overflows
    * int64 past ~3·10⁹ docs/source, and floor division on positive
    * decimals is bit-identical to DuckDB's hugeint `//`.
    *
    * Scale shape: q25's bucket-bounded pair machinery verbatim, two
    * un-hinted doc-keyed label joins, a ≤\|sources\|²-row rollup, and
    * a \|sources\|-row count table joined twice onto that rollup.
    */
  def q270_neardup_source_matrix(spark: SparkSession, dir: String): DataFrame = {
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    val sizes = src.groupBy("source").agg(count(lit(1)).cast("long").as("n_docs"))
    val cells = q25_minhash_lsh_pairs(spark, dir)
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"),
        col("jaccard"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
    cells
      .join(sizes.select(col("source").as("source_lo"), col("n_docs").as("n_lo")),
        "source_lo")
      .join(sizes.select(col("source").as("source_hi"), col("n_docs").as("n_hi")),
        "source_hi")
      .withColumn("opportunity",
        when(col("source_lo") === col("source_hi"),
          expr("CAST(n_lo AS DECIMAL(38,0)) * (n_lo - 1) / 2"))
          .otherwise(expr("CAST(n_lo AS DECIMAL(38,0)) * n_hi")))
      .select(col("source_lo"), col("source_hi"), col("n_pairs"),
        expr("CAST(n_pairs AS DECIMAL(38,0)) * 1000000 div opportunity")
          .cast("long").as("rate_ppm"),
        col("min_jaccard"), col("max_jaccard"))
      .orderBy("source_lo", "source_hi")
  }

  val q270_oracle: String =
    s"""WITH pairs AS (
       |$lshPairsSql
       |),
       |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |          FROM documents GROUP BY source),
       |lab AS (
       |  SELECT least(da.source, db.source) AS source_lo,
       |    greatest(da.source, db.source) AS source_hi, p.jaccard
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.a_id
       |  JOIN documents db ON db.doc_id = p.b_id),
       |cells AS (
       |  SELECT source_lo, source_hi,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    min(jaccard) AS min_jaccard, max(jaccard) AS max_jaccard
       |  FROM lab GROUP BY 1, 2)
       |SELECT source_lo, source_hi, n_pairs,
       |  CAST(CAST(n_pairs AS HUGEINT) * 1000000 // (CASE
       |    WHEN source_lo = source_hi
       |      THEN CAST(slo.n_docs AS HUGEINT) * (slo.n_docs - 1) // 2
       |    ELSE CAST(slo.n_docs AS HUGEINT) * shi.n_docs END) AS BIGINT)
       |    AS rate_ppm,
       |  min_jaccard, max_jaccard
       |FROM cells
       |JOIN sizes slo ON slo.source = source_lo
       |JOIN sizes shi ON shi.source = source_hi
       |ORDER BY source_lo, source_hi""".stripMargin

  // ---------- q26: n-gram Jaccard similarity ----------

  /** True pairwise bigram-Jaccard on a bounded slice (doc_id < 500 ⇒
    * ≤125k pairs) — the exact baseline the LSH path approximates.
    * Bounded on purpose: the all-pairs form is O(n²) and exists to
    * validate, not to run at corpus scale (that's q25's job).
    */
  def q26_ngram_jaccard(spark: SparkSession, dir: String): DataFrame = {
    // inverted-index (posting-list) all-pairs similarity: explode
    // shingles, equi-join on the shingle, count co-occurrences per
    // pair. Pairs with zero overlap never materialize, the join
    // shuffles by shingle (no cross product), and the same shape keeps
    // working on an unbounded corpus — the doc_id bound here only
    // matches the oracle's scope.
    val d = docs(spark, dir)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"),
        array_distinct(call_function("shingles3", col("text"))).as("sh"))
      .persist()
    val sizes = d.select(col("doc_id"), size(col("sh")).as("n"))
    val posting = d.select(col("doc_id"), explode(col("sh")).as("s"))
    val pairs = posting.select(col("doc_id").as("a_id"), col("s"))
      .join(posting.select(col("doc_id").as("b_id"), col("s")), Seq("s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    val uni = col("a_n") + col("b_n") - col("inter")
    pairs
      .join(broadcast(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "a_n")), "a_id")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "b_n")), "b_id")
      // threshold in exact integer form: j >= 1/5 <=> 5*inter >= union
      .filter(col("inter") * 5 >= uni)
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / uni.cast("double")).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  val q26_oracle: String = {
    val sh = H.shinglesSql(T.tokensSql("text"))
    val inter = "len(list_intersect(a.sh, b.sh))"
    val uni = s"(len(a.sh) + len(b.sh) - $inter)"
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct($sh) AS sh FROM documents WHERE doc_id < 500)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST($inter AS DOUBLE) / CAST($uni AS DOUBLE) AS jaccard
       |FROM d a, d b
       |WHERE a.doc_id < b.doc_id AND $inter * 5 >= $uni
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q27: SimHash near-dup buckets ----------

  def q27_simhash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // native one-pass fingerprint ([[graft.plans.SimHashSig]]);
      // SimHashSigSpec pins equality with the declarative
      // H.simhashSinglePassSpark form the DuckDB oracle still speaks
      .withColumn("simhash",
        call_function("simhash_sig", T.tokens(col("text")), lit(H.simhashDefaultWidth)))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc_id"))
      .filter(col("n_docs") >= 2)
      .orderBy("simhash")

  val q27_oracle: String = {
    val toks = T.tokensSql("text")
    s"""SELECT simhash, count(*) AS n_docs, min(doc_id) AS rep_doc_id
       |FROM (SELECT doc_id, ${H.simhashFromHashesSql("hs", spark = false)} AS simhash
       |      FROM (SELECT doc_id, [md5(t) for t in $toks] AS hs FROM documents))
       |GROUP BY simhash HAVING count(*) >= 2 ORDER BY simhash""".stripMargin
  }

  // ---------- q69: SimHash with Hamming-adjacent probing ----------

  /** SimHash near-dup detection that actually catches near-dups: q27
    * groups docs on EXACT simhash equality, so two documents whose
    * fingerprints differ in a single bit — precisely the
    * near-miss SimHash exists to find — are never candidates. Here
    * every document probes its own fingerprint plus all `width` one-bit
    * flips; a candidate pair is (probe of a) = (exact simhash of b),
    * i.e. Hamming distance ≤ 1, and candidates are then verified with
    * true shingle-set Jaccard exactly like the MinHash path (q25).
    *
    * Scale shape: the probe fan-out is width+1 narrow rows (id + two
    * longs) per doc — shingle data does NOT ride through it. The
    * fingerprint width is a single constant ([[q69Width]]) consumed by
    * the Spark fingerprint, the probe fan-out, the Hamming distance AND
    * the DuckDB oracle, so growing it for a larger corpus cannot
    * desynchronize them. Verification is
    * staged cheapest-first: a size-ratio prefilter (j ≥ 0.8 forces
    * 5·min(|a|,|b|) ≥ 4·max — integer-exact, joins only a tiny
    * (id, count) table) discards most random fingerprint collisions
    * (120k → 39k at sf0.1) before any array is touched, and the
    * surviving pairs intersect 8-byte md5-derived shingle KEYS rather
    * than shingle strings (identical Jaccard in both engines, a
    * fraction of the cache and compare cost). Candidate volume is
    * governed by bucket occupancy (grow the fingerprint width as the
    * corpus grows), never all-pairs.
    */
  /** (doc_id, sk, simhash) for every doc with ≥3 tokens (the Jaccard
    * verify needs a non-empty shingle set). `sk` is the distinct set
    * of 60-bit integer shingle keys ([[HashFunctions.shingleKeys]]) —
    * Jaccard over keys equals Jaccard over shingle strings (both
    * engines hash identically; a 2^-60 collision would shift one
    * count), at an 8-byte compare/cache cost per element.
    */
  /** Floor fingerprint width for q69 (bits) — the default that
    * [[simhashTable]]/[[simhashProbePairs]] use when no width is
    * passed (specs, tiny corpora). The REAL width is corpus-adaptive:
    * [[q69_simhash_probe]] derives it from the documents row count via
    * [[graft.functions.HashFunctions.simhashWidthFor]] (+2 bits per
    * corpus doubling past 1000 docs, so candidate volume ~ n²/2^width
    * stays flat), and the DuckDB oracle computes the SAME step
    * function in SQL from count(*) — the two engines render from one
    * thresholds table and cannot desynchronize.
    */
  private[queries] val q69Width: Int = H.simhashDefaultWidth

  private[queries] def simhashTable(spark: SparkSession, dir: String,
      width: Int = q69Width): DataFrame =
    docs(spark, dir)
      .withColumn("toks", T.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_distinct(
          H.shingleKeys(call_function("shingles3", col("text")))).as("sk"),
        call_function("simhash_sig", col("toks"), lit(width)).as("simhash"))

  /** Candidate pairs at Hamming distance ≤ 1: each unordered pair
    * matches exactly once — b sits in one bucket, a's width+1 probes
    * are distinct, and the a_id < b_id orientation drops the mirrored
    * (b probes → a exact) match.
    */
  private[queries] def simhashProbePairs(base: DataFrame,
      width: Int = q69Width): DataFrame = {
    val probes = base.select(col("doc_id").as("a_id"), col("simhash").as("a_sim"),
      explode(array(col("simhash") +:
        (0 until width).map(b => col("simhash").bitwiseXOR(lit(1L << b))): _*)).as("probe"))
    val exact = base.select(col("doc_id").as("b_id"), col("simhash").as("b_sim"),
      col("simhash").as("probe"))
    probes.join(exact, Seq("probe"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr(H.hammingCountSql("a_sim", "b_sim", spark = true)).as("hamming"))
  }

  def q69_simhash_probe(spark: SparkSession, dir: String): DataFrame = {
    // corpus-adaptive width: a metadata-only parquet row count (no
    // column data read) picks the occupancy-flat fingerprint width
    // before the plan is built — the 100 TB posture, where a fixed
    // width is a quadratic candidate blowup.
    val width = H.simhashWidthFor(docs(spark, dir).count())
    // reused by the probe side, exact side, size table and both verify
    // joins; at cluster scale this would be written to storage instead.
    // Materialized EAGERLY: the broadcast builds below run as separate
    // jobs before the main one, and racing them against an unpopulated
    // cache recomputes the tokenize+shingle lineage once per build.
    // Released in the finally (the small verified-pair result is
    // checkpointed first) so the corpus-linear cache never outlives
    // the query — same discipline as q64.
    val base = simhashTable(spark, dir, width).persist()
    base.count()
    try q69Verify(base, width)
    finally base.unpersist()
  }

  private def q69Verify(base: DataFrame, width: Int): DataFrame = {
    val cand = simhashProbePairs(base, width)
    // stage 1: size-ratio prefilter over a narrow (id, count) table —
    // a NECESSARY condition of j >= 0.8, integer-exact, no arrays moved.
    // NO broadcast hints anywhere in the verify: sizes and sh are
    // corpus-linear, and a static broadcast of a corpus-linear table is
    // a driver OOM at cluster scale. These are plain shuffle joins on
    // the id keys; AQE is free to broadcast the candidate side at
    // runtime when it measures small — the candidate volume is the
    // occupancy-governed (width knob) bounded side, never the corpus.
    val sizes = base.select(col("doc_id"), size(col("sk")).as("n"))
    val candSized = cand
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("a_n")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("b_n")), "b_id")
      .filter(least(col("a_n"), col("b_n")) * 5 >= greatest(col("a_n"), col("b_n")) * 4)
    // stage 2: exact Jaccard over integer shingle keys for survivors;
    // inter/uni are hoisted withColumns so the intersect runs once per
    // pair (folding them into select+filter would re-evaluate it)
    val sh = base.select(col("doc_id"), col("sk"))
    candSized
      .join(sh.select(col("doc_id").as("a_id"), col("sk").as("a_sk")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sk").as("b_sk")), "b_id")
      .withColumn("inter", call_function("intersect_count", col("a_sk"), col("b_sk")))
      .withColumn("uni", col("a_n") + col("b_n") - col("inter"))
      // threshold in exact integer form (j >= 4/5 <=> 5*inter >= 4*union),
      // immune to float boundary disagreement between engines
      .filter(col("inter") * 5 >= col("uni") * 4)
      .select(col("a_id"), col("b_id"), col("hamming"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
      .orderBy("a_id", "b_id")
      // eager: survives the base.unpersist in the caller ([[Lineage]])
      .transform(graft.Lineage.cut)
  }

  val q69_oracle: String = {
    val toks = T.tokensSql("text")
    val sh = H.shinglesSql("toks")
    val inter = "len(list_intersect(a.sk, b.sk))"
    val uni = s"(len(a.sk) + len(b.sk) - $inter)"
    // `w` computes the SAME corpus-adaptive width the Spark plan picks
    // (one thresholds table renders both — HashFunctions.widthSteps),
    // so the oracle stays valid at ANY scale factor the driver runs.
    s"""WITH w AS (SELECT ${H.simhashWidthCaseSql("count(*)")} AS wd FROM documents),
       |base AS (
       |  SELECT doc_id, list_distinct(${H.shingleKeysSql(sh)}) AS sk,
       |    ${H.simhashFromHashesDynSql("[md5(t) for t in toks]", "wd")} AS simhash
       |  FROM (SELECT doc_id, $toks AS toks FROM documents), w
       |  WHERE len(toks) >= 3),
       |probes AS (
       |  SELECT doc_id AS a_id, simhash AS a_sim,
       |    unnest([simhash] || [xor(simhash, CAST(1 AS BIGINT) << b) for b in range(0, wd)]) AS probe
       |  FROM base, w),
       |cand AS (
       |  SELECT p.a_id, e.doc_id AS b_id,
       |    ${H.hammingCountSql("p.a_sim", "e.simhash", spark = false)} AS hamming
       |  FROM probes p JOIN base e ON p.probe = e.simhash AND p.a_id < e.doc_id)
       |SELECT cand.a_id, cand.b_id, hamming,
       |  CAST($inter AS DOUBLE) / CAST($uni AS DOUBLE) AS jaccard
       |FROM cand
       |JOIN base a ON cand.a_id = a.doc_id
       |JOIN base b ON cand.b_id = b.doc_id
       |WHERE $inter * 5 >= $uni * 4
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q73: incremental near-dup against the existing corpus ----------

  /** The APPLY-form every growing corpus actually runs: a new batch of
    * documents is checked for near-duplicates against the EXISTING
    * corpus before ingestion (batch-vs-corpus, not corpus-vs-corpus —
    * re-deduplicating 100 TB per arriving batch is never an option).
    * Output: per batch document, how many existing docs it duplicates,
    * the minimum matching existing id, and the best Jaccard.
    *
    * Scale shape: the batch side of the band-bucket join is batch-
    * sized; the corpus side's band table is the precomputed per-doc
    * index a real deployment keeps on storage and never rebuilds. Work
    * is O(batch × bucket occupancy), independent of corpus size. The
    * "batch" here is a deterministic content-hash eighth of the
    * documents table (the harness has one table, not an ingest feed).
    */
  def q73_incremental_neardup(spark: SparkSession, dir: String): DataFrame = {
    // the corpus side is the session's STORED index — the artifact a
    // real deployment keeps on storage and probes per arriving batch;
    // no re-shingling, no cache juggling (two columnar scans of the
    // narrow index are cheaper than materializing it in memory)
    val bands = bandsFromIndex(sigIndex(spark, dir))
    val isBatch =
      substring(md5(concat(lit("b73|"), col("doc_id").cast("string"))), 1, 1)
        .isin("0", "1")
    val b = bands.filter(isBatch).select(col("band"), col("bucket"),
      col("doc_id").as("batch_id"), col("skd").as("b_sk"))
    val e = bands.filter(!isBatch).select(col("band"), col("bucket"),
      col("doc_id").as("match_id"), col("skd").as("e_sk"))
    b.join(e, Seq("band", "bucket"))
      .select(col("batch_id"), col("match_id"),
        keyJaccard(col("b_sk"), col("e_sk")).as("jaccard"))
      .distinct() // a pair can collide in multiple bands
      .filter(col("jaccard") >= 0.8)
      .groupBy("batch_id")
      .agg(
        count(lit(1)).as("n_matches"),
        min(col("match_id")).as("min_match_id"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("batch_id")
  }

  val q73_oracle: String = {
    val batchFlag =
      "substring(md5(concat('b73|', CAST(doc_id AS VARCHAR))), 1, 1) IN ('0', '1')"
    s"""WITH ${indexBandsCteSql(Some(batchFlag -> "is_batch"))},
       |pairs AS (
       |  SELECT DISTINCT b.doc_id AS batch_id, e.doc_id AS match_id,
       |    ${keyJaccardSql("b", "e")} AS jaccard
       |  FROM bands b JOIN bands e ON b.band = e.band AND b.bucket = e.bucket
       |  WHERE b.is_batch AND NOT e.is_batch)
       |SELECT batch_id, count(*) AS n_matches, min(match_id) AS min_match_id,
       |  max(jaccard) AS max_jaccard
       |FROM pairs WHERE jaccard >= 0.8
       |GROUP BY batch_id ORDER BY batch_id""".stripMargin
  }

  // ---------- q72: df-cutoff similarity join (hot-shingle pruning) ----------

  /** Whole-corpus similarity join on the inverted index with a
    * document-frequency cutoff: only shingles appearing in ≤ dfCut
    * documents participate, and a pair is emitted when it shares at
    * least minSharedRare such rare shingles.
    *
    * This is the ssjoin answer to posting-list skew: an unpruned
    * index join costs Σ df(s)² — one boilerplate shingle shared by
    * 1% of a 100 TB corpus dominates everything. With the cutoff,
    * every shingle contributes ≤ dfCut² pairs, so the join output is
    * ≤ dfCut · |rare postings| — linear, knob-bounded, and by
    * construction the shared shingles are the DISCRIMINATIVE ones
    * (common boilerplate can't vote two docs together). q26 runs the
    * exact unpruned form on a bounded slice; this is the form that
    * runs unbounded.
    */
  val dfCut = 5
  val minSharedRare = 3

  def q72_rare_shingle_pairs(spark: SparkSession, dir: String): DataFrame = {
    // explode of the empty shingle array emits nothing, so the fused
    // shingler subsumes the old ≥3-token filter
    val posting = docs(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(call_function("shingles3", col("text")))).as("s"))
    // the HOT set (df > cutoff) is tiny by definition — common
    // shingles are few, rare ones are the many — so it broadcasts and
    // the posting table is pruned with an anti-join. Crucially the df
    // aggregation is a partial-agg groupBy: a boilerplate shingle's
    // millions of postings collapse to one (s, count) per map task
    // BEFORE any shuffle. (A window partitioned by shingle would
    // instead funnel the hottest posting list into a single task —
    // recreating the very skew the cutoff exists to remove; and
    // broadcasting the RARE set would ship most of the vocabulary.)
    val hot = posting.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCut)
      .select("s")
    val rare = posting
      .join(hot, Seq("s"), "left_anti")
      .persist() // both self-join sides read it; released below
    rare.count() // eager — concurrent sides must not race the cache
    try {
      rare
        .select(col("doc_id").as("a_id"), col("s"))
        .join(rare.select(col("doc_id").as("b_id"), col("s")), "s")
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(count(lit(1)).as("n_shared_rare"))
        .filter(col("n_shared_rare") >= minSharedRare)
        .orderBy("a_id", "b_id")
        // small pair list; survives the unpersist ([[Lineage]])
        .transform(graft.Lineage.cut)
    } finally rare.unpersist()
  }

  val q72_oracle: String = {
    val toks = T.tokensSql("text")
    val sh = H.shinglesSql("toks")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct($sh)) AS s
       |       FROM t WHERE len(toks) >= 3),
       |wdf AS (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh),
       |rare AS (SELECT doc_id, s FROM wdf WHERE df <= $dfCut)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared_rare
       |FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minSharedRare
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q108: asymmetric containment (doc-inside-doc) ----------

  /** Containment threshold: the smaller side shares ≥ this fraction of
    * its shingles with the other side.
    */
  val containmentMin = 0.5

  /** Asymmetric CONTAINMENT dedup (round 8): C(A→B) = |A∩B| / |A|
    * catches a document EMBEDDED in another — the stitched/quoted
    * corpus failure mode where Jaccard ≈ |A|/|B| vanishes as the host
    * grows, so MinHash banding (which approximates JACCARD) is
    * structurally blind to it. Candidates therefore do NOT come from
    * the band buckets: they come from the rare-shingle posting join
    * (q72's knob-bounded shape — shared discriminative shingles vote
    * pairs together regardless of size ratio), and containment is then
    * verified EXACTLY in both directions from the stored index's
    * 60-bit shingle-key sets. Output: every candidate pair where
    * either direction clears [[containmentMin]], with both directed
    * scores and the Jaccard for contrast.
    *
    * Scale shape: postings explode from the STORED index (raw text
    * never re-read), the hot-shingle cutoff bounds the self-join at
    * dfCut·|rare postings| (q72's argument), and the exact verify
    * touches only candidate pairs. All divisions share one operation
    * order with the DuckDB twin — bit-identical scores.
    */
  def q108_containment(spark: SparkSession, dir: String): DataFrame = {
    val idx = sigIndex(spark, dir)
      .select(col("doc_id"), col("skd"))
    val posting = idx.select(col("doc_id"), explode(col("skd")).as("s"))
    val hot = posting.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCut)
      .select("s")
    val rare = posting.join(hot, Seq("s"), "left_anti")
    val cand = rare
      .select(col("doc_id").as("a_id"), col("s"))
      .join(rare.select(col("doc_id").as("b_id"), col("s")), "s")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared_rare"))
      .filter(col("n_shared_rare") >= minSharedRare)
    val inter = call_function("intersect_count", col("a_sk"), col("b_sk")).cast("double")
    cand
      .join(idx.select(col("doc_id").as("a_id"), col("skd").as("a_sk")), "a_id")
      .join(idx.select(col("doc_id").as("b_id"), col("skd").as("b_sk")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_shared_rare"),
        (inter / size(col("a_sk")).cast("double")).as("cont_a_in_b"),
        (inter / size(col("b_sk")).cast("double")).as("cont_b_in_a"),
        keyJaccard(col("a_sk"), col("b_sk")).as("jaccard"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= containmentMin)
      .orderBy("a_id", "b_id")
  }

  val q108_oracle: String = {
    val toks = T.tokensSql("text")
    val sh = H.shinglesSql("toks")
    def cont(num: String, den: String) =
      s"CAST(len(list_intersect($num, $den)) AS DOUBLE) / CAST(len($num) AS DOUBLE)"
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct(${H.shingleKeysSql(sh)}) AS skd
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)
       |  WHERE len(toks) >= 3),
       |p AS (SELECT doc_id, unnest(skd) AS s FROM d),
       |wdf AS (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM p),
       |rare AS (SELECT doc_id, s FROM wdf WHERE df <= $dfCut),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared_rare
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minSharedRare)
       |SELECT a_id, b_id, n_shared_rare,
       |  ${cont("da.skd", "db.skd")} AS cont_a_in_b,
       |  ${cont("db.skd", "da.skd")} AS cont_b_in_a,
       |  CAST(len(list_intersect(da.skd, db.skd)) AS DOUBLE) /
       |   (CAST(len(da.skd) + len(db.skd) AS DOUBLE)
       |    - CAST(len(list_intersect(da.skd, db.skd)) AS DOUBLE)) AS jaccard
       |FROM cand
       |JOIN d da ON da.doc_id = a_id
       |JOIN d db ON db.doc_id = b_id
       |WHERE greatest(${cont("da.skd", "db.skd")}, ${cont("db.skd", "da.skd")})
       |      >= $containmentMin
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q76: persisted signature index, reused without re-shingling ----------

  /** The MinHash signature index as a STORED artifact. Every other
    * query in the family ([[sigTable]] consumers q24/q25/q47/q60/q68/
    * q73) rebuilds signatures from raw text per run — fine at test SF,
    * wrong at corpus scale, where the index is built ONCE, written to
    * columnar storage, and every dedup/overlap/incremental query reads
    * the index instead of re-tokenizing 100 TB of text. This query IS
    * that lifecycle end-to-end: build index → write parquet → reopen →
    * compute q25's near-dup pairs purely from stored columns (band
    * buckets from the stored signature, Jaccard verify from the stored
    * shingle-key sets — the raw `text` column is never touched after
    * the build).
    *
    * The stored shingle sets are 60-bit integer keys
    * ([[HashFunctions.shingleKeys]]), not strings: 8 bytes per element
    * on disk and in the verify join, with identical Jaccard in both
    * engines (same rule as q69). On a cluster the write would also
    * bucket by doc_id so downstream joins skip the shuffle; the
    * lifecycle (write → reopen → query) is the part under test here.
    */
  def q76_sig_index_persist(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q76-") { work =>
      sigTable(spark, dir)
        .withColumn("skd", array_distinct(H.shingleKeys(col("sh"))))
        .drop("sh")
        .write.parquet(s"$work/sig_index")
      // reopen: everything below sees only the stored index schema —
      // the exact read path lshPairs runs against the session index
      pairsFromIndex(spark.read.parquet(s"$work/sig_index"))
        .orderBy("a_id", "b_id")
    }

  /** q25's oracle verbatim: q76 builds a FRESH index in its own temp
    * dir and must reproduce the q25 pairs bit-identically — same
    * stored-column read path, independently built artifact.
    */
  val q76_oracle: String = s"$lshPairsSql\nORDER BY a_id, b_id"

  // ---------- q94: incremental signature-index update ----------

  /** Index MAINTENANCE — the missing half of q76's build-once story.
    * A 100 TB corpus doesn't rebuild its signature index per ingest;
    * it APPENDS the arriving batch's signatures. Here the corpus
    * splits like q73 (content-hash eighth plays "the batch"): the
    * index is built from the EXISTING documents only and written,
    * then the batch's signatures are appended as new parquet files
    * (mode=append — no existing file is rewritten, the ingest unit a
    * columnar store actually gives you), and q25's near-dup pairs are
    * recomputed from the MERGED stored index. The oracle is q25's
    * full-corpus oracle verbatim: incremental maintenance must be
    * indistinguishable from a from-scratch build. Signature rows are
    * per-document and the banding is stateless, so append IS the
    * correct merge — no global rebuild, no read-modify-write;
    * SigIndexPersistSpec additionally pins that BOTH the existing and
    * the appended partition are non-empty (an empty side would make
    * the equality trivial).
    */
  def q94_sig_index_update(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q94-") { work =>
      val isBatch =
        substring(md5(concat(lit("b73|"), col("doc_id").cast("string"))), 1, 1)
          .isin("0", "1")
      def sigs(flag: org.apache.spark.sql.Column) =
        sigTable(spark, dir)
          .filter(flag)
          .withColumn("skd", array_distinct(H.shingleKeys(col("sh"))))
          .drop("sh")
      sigs(!isBatch).write.parquet(s"$work/sig_index") // initial build
      sigs(isBatch).write.mode("append").parquet(s"$work/sig_index") // ingest
      pairsFromIndex(spark.read.parquet(s"$work/sig_index"))
        .orderBy("a_id", "b_id")
    }

  /** q317: q94's ingest leg as a STREAM — each arriving micro-batch's
    * signatures land as appended parquet files (foreachBatch; a
    * document's signature rows are self-contained and the banding is
    * stateless, so per-batch append IS the correct merge — q94's
    * argument, now per micro-batch), and the near-dup pairs
    * recomputed from the drained index must be indistinguishable from
    * a from-scratch build: q25's oracle verbatim. With the LM family
    * (q309), TWO index families now prove streaming ingest
    * end-to-end against generated SQL.
    */
  def q317_stream_sig_ingest(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q317-") { work =>
      val d = docs(spark, dir)
      CurationFlow.stageTwoBatches(spark, work, d, "doc_id",
        feed = Some(dir -> "documents"))
      FileFeed.drain(spark, s"$work/incoming", d.schema, s"$work/ckpt")(
        _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          // batchId-keyed idempotent append (foreachBatch is
          // at-least-once; a replayed blind append would duplicate
          // signature rows and surface phantom near-dup pairs)
          graft.io.BatchLog.append(
            sigTableOf(batch)
              .withColumn("skd", array_distinct(H.shingleKeys(col("sh"))))
              .drop("sh"),
            s"$work/sig_index", batchId)
          ()
        })
      pairsFromIndex(graft.io.BatchLog.read(spark, s"$work/sig_index"))
        .orderBy("a_id", "b_id")
    }

  /** q25's oracle — see [[q317_stream_sig_ingest]]. */
  val q317_oracle: String = s"$lshPairsSql\nORDER BY a_id, b_id"

  /** q25's oracle again — see [[q94_sig_index_update]]. */
  val q94_oracle: String = s"$lshPairsSql\nORDER BY a_id, b_id"

  // ---------- q95: content-defined chunking ----------

  /** Boundary-density knob: a boundary falls where a window key ≡ 0
    * (mod this), so expected chunk length ≈ q95Mod shingle windows.
    */
  val q95Mod = 8

  /** Content-defined chunking (the Rabin/FastCDC rule, on token
    * windows): a chunk boundary falls AFTER token i+2 exactly when
    * the 3-token window's 60-bit shingle key ≡ 0 (mod [[q95Mod]]).
    * The rule is purely content-LOCAL, which is the whole point:
    * editing one passage moves only its own boundaries, where
    * fixed-size chunking shifts every later chunk after an insertion
    * — the property dedup storage and RAG splitters chunk by. Output
    * per document: token count, chunk count, largest chunk, and the
    * boundary-offset sum (pins the exact boundary SET through the
    * oracle's hash compare, not just the count).
    *
    * Scale shape: one narrow scan — shingle keys are native codegen
    * (fused shingles3 + md5 key math), the boundary filter is a
    * per-row array op, and the segment-length window partitions by
    * doc_id (bounded per-doc work, fully parallel). No joins, no
    * driver state.
    */
  def q95_content_chunks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs(spark, dir)
      .withColumn("toks", T.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        H.shingleKeys(call_function("shingles3", col("text"))).as("sk"))
    // chunk-start offsets in token space: 0 plus every boundary i+3
    // (0-based window i ends at token i+2) that is not the doc's end
    val starts = base.select(col("doc_id"), col("n_toks"),
      explode(array_sort(array_union(
        array(lit(0L)),
        filter(
          transform(col("sk"), (k, i) =>
            when(k % q95Mod === 0, (i + 3).cast("long")).otherwise(lit(-1L))),
          x => x >= 0L && x < col("n_toks"))))).as("start"))
    val w = Window.partitionBy("doc_id").orderBy("start")
    starts
      .withColumn("chunk_toks",
        coalesce(lead(col("start"), 1).over(w), col("n_toks")) - col("start"))
      .groupBy("doc_id")
      .agg(
        max(col("n_toks")).as("n_toks"),
        count(lit(1)).as("n_chunks"),
        max(col("chunk_toks")).as("max_chunk_toks"),
        sum(col("start")).as("boundary_sum"))
      .orderBy("doc_id")
  }

  val q95_oracle: String = {
    val toks = T.tokensSql("text")
    val sh = H.shinglesSql("toks")
    s"""WITH base AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |    ${H.shingleKeysSql(sh)} AS sk
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)
       |  WHERE len(toks) >= 3),
       |st AS (
       |  SELECT doc_id, n_toks,
       |    unnest(list_sort(list_prepend(CAST(0 AS BIGINT),
       |      [CAST(i + 2 AS BIGINT) for i in range(1, len(sk) + 1)
       |       if sk[i] % $q95Mod = 0 AND i + 2 < n_toks]))) AS start
       |  FROM base),
       |seg AS (
       |  SELECT doc_id, n_toks, start,
       |    coalesce(lead(start) OVER (PARTITION BY doc_id ORDER BY start), n_toks) - start AS chunk_toks
       |  FROM st)
       |SELECT doc_id, max(n_toks) AS n_toks, count(*) AS n_chunks,
       |  max(chunk_toks) AS max_chunk_toks,
       |  CAST(sum(start) AS BIGINT) AS boundary_sum
       |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------- q139: shingle novelty scoring ----------

  /** Per-document novelty: the fraction of a document's distinct
    * shingles that appear for the FIRST time in this document (by
    * doc_id order) — the "how much new text does each document add"
    * signal behind dedup-aware curriculum ordering and corpus-growth
    * accounting (the complement of Lee et al.'s duplicated-span rate,
    * measured at ingestion order). Emitted in exact ppm (the q128 DIV
    * rule), so values hash-match across engines.
    *
    * Scale shape: shingles ride their 60-bit keys, never text (the
    * q72 rule); one distinct over (doc, key), one vocab-sized
    * first-seen aggregation (min doc_id per key — partial-agg
    * collapses map-side), one shuffle join back on the key with AQE
    * handling hot boilerplate shingles, one per-doc rollup. All
    * exchanges carry 16-byte rows; nothing is ever collected.
    */
  def q139_novelty(spark: SparkSession, dir: String): DataFrame = {
    // distinct key sets come from the session's STORED signature index
    // (skd column) — raw text is never re-tokenized; and instead of
    // joining the corpus-sized (doc, key) stream against the first-seen
    // table, novelty counts come from the first-seen table ALONE
    // (group its min-doc by doc), so the only join is doc-sized ⋈
    // doc-sized. Measured 46 s → ~2 s at sf0.1.
    val sh = sigIndex(spark, dir)
      .select(col("doc_id"), explode(col("skd")).as("k"))
    val perDoc = sh.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_shingles"))
    val novel = sh.groupBy("k").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left_outer")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) DIV n_shingles"))
      .orderBy("doc_id")
  }

  val q139_oracle: String = {
    val keys = H.shingleKeysSql(H.shinglesSql(T.tokensSql("text")))
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, k
       |  FROM (SELECT doc_id, unnest($keys) AS k FROM documents)),
       |first AS (
       |  SELECT k, min(doc_id) AS first_doc FROM sh GROUP BY k)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  CAST((sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000000)
       |    // count(*) AS BIGINT) AS novelty_ppm
       |FROM sh JOIN first USING (k)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------- q143: all-pairs prefix-filtered similarity join ----------

  /** Jaccard threshold 1/2 as an exact fraction (inter·2 ≥ union). */
  val allPairsThresholdHalf = true

  /** EXACT all-pairs similarity self-join with prefix filtering
    * (Bayardo et al., WWW 2007 "Scaling Up All Pairs Similarity
    * Search") at Jaccard ≥ 1/2 over distinct-token sets — the exact
    * counterpart of probabilistic MinHash-LSH (q25): LSH can miss
    * pairs; this provably finds EVERY pair above the threshold, with
    * work bounded by the prefix-token posting lists. Tokens are
    * globally ordered rarest-first (df asc, 60-bit key asc); a doc of
    * n tokens exposes only its first ⌊n/2⌋+1 tokens (for t: the first
    * n − ⌈t·n⌉ + 1) — two sets with J ≥ t MUST share a prefix token
    * under any shared total order, so candidates come from joining
    * the RARE end of the vocabulary only and boilerplate tokens never
    * generate pairs. Candidates pass the length filter
    * (t·|A| ≤ |B| ≤ |A|/t) before the exact verify; Jaccard is
    * emitted in exact ppm.
    *
    * Scale shape: tokens ride 60-bit md5 keys end-to-end (the q72
    * rule — no text in any exchange); the only corpus-sized shuffles
    * are the df count and the per-doc ordered-array rollup; the
    * posting self-join touches prefix tokens only (rare-first order
    * makes Σ df² over prefixes small by construction — the paper's
    * point); the verify join moves key arrays for CANDIDATE pairs
    * only. AllPairsSpec pins recall against brute force and that
    * pruning is genuine.
    */
  def q143_allpairs(spark: SparkSession, dir: String): DataFrame =
    allPairsExact(spark, dir, 1, 2).orderBy("a_id", "b_id")

  /** The prefix-filter core at Jaccard threshold num/den, shared by
    * q143 (1/2) and q154's exact-truth side (4/5 — q25's own
    * threshold). Prefix length `n − ⌈t·n⌉ + 1`, length filter
    * `t·|A| ≤ |B| ≤ |A|/t`, verify `den·inter ≥ num·union` — every
    * comparison a cross-multiplied integer, no float threshold
    * anywhere.
    */
  /** Session-lifetime STORED df-ordered key table (doc_id, ks, n) —
    * the q76/SigIndex lifecycle applied to the all-pairs family: the
    * rarest-first ordering is THRESHOLD-INDEPENDENT (only the prefix
    * LENGTH varies), yet the suite derives it five times per run
    * (q143 once, q154 once, q185 thrice). Built once per corpus dir
    * from the stored signature index, written to scratch parquet,
    * reopened by every later threshold.
    */
  private def ordIndex(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, "ordidx", dir) {
      val keyed = sigIndex(spark, dir)
        .select(col("doc_id"), explode(col("skd")).as("k"))
      val dfreq = keyed.groupBy("k").agg(count(lit(1)).as("df"))
      keyed.join(dfreq, "k")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("k")))).as("sw"))
        .select(col("doc_id"),
          transform(col("sw"), s => s.getField("k")).as("ks"),
          size(col("sw")).as("n"))
    }

  /** The prefix-filter core over an (already persisted) df-ordered
    * key table — the plan only, no materialization: callers decide
    * how many thresholds share one `ord` and when to cut lineage
    * (q185 runs THREE of these as independent subtrees of ONE job, so
    * the arms' stages schedule concurrently instead of serially).
    */
  private def allPairsExactOn(ord: DataFrame, num: Int, den: Int): DataFrame = {
    val pref = ord.select(col("doc_id"), col("n"),
      explode(expr(s"slice(ks, 1, n - ($num * n + $den - 1) DIV $den + 1)")).as("k"))
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") * den >= col("a.n") * num &&
          col("b.n") * num <= col("a.n") * den)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    cand
      .join(ord.select(col("doc_id").as("a_id"), col("ks").as("ka"), col("n").as("n_a")), "a_id")
      .join(ord.select(col("doc_id").as("b_id"), col("ks").as("kb"), col("n").as("n_b")), "b_id")
      // native merge-walk count (the keyJaccard expression): identical
      // to size(array_intersect) on these distinct key arrays, without
      // materializing the intersection array per candidate pair (§4)
      .withColumn("inter",
        call_function("intersect_count", col("ka"), col("kb")).cast("long"))
      .withColumn("uni", (col("n_a") + col("n_b")).cast("long") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num)
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"), col("inter"),
        col("uni"), expr("(inter * 1000000) DIV uni").as("jac_ppm"))
  }

  private[queries] def allPairsExact(
      spark: SparkSession, dir: String, num: Int, den: Int): DataFrame = {
    // the df-ordered key table comes from the session's stored
    // OrdIndex (built once per dir); persist because it feeds the
    // prefix explode AND both verify joins within this call
    val ord = ordIndex(spark, dir).persist()
    try allPairsExactOn(ord, num, den)
      .transform(graft.Lineage.cut) // eager: survives the unpersist
    finally ord.unpersist()
  }

  /** The oracle speaks the SAME prefix algorithm (not brute force):
    * an all-pairs cross product over the unbounded corpus would be
    * O(n²) in DuckDB too, and mirroring the prefix logic double-pins
    * it cross-engine.
    */
  private[queries] def allPairsSql(num: Int, den: Int): String = {
    val keys = H.shingleKeysSql(H.shinglesSql(T.tokensSql("text")))
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, k
       |  FROM (SELECT doc_id, unnest(list_distinct($keys)) AS k FROM documents)),
       |dfreq AS (SELECT k, count(*) AS df FROM toks GROUP BY k),
       |ord AS (
       |  SELECT doc_id, list(k ORDER BY df, k) AS ks,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM toks JOIN dfreq USING (k) GROUP BY doc_id),
       |pref AS (
       |  SELECT doc_id, n,
       |    unnest(ks[1:(n - ($num * n + $den - 1) // $den + 1)]) AS k FROM ord),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pref a JOIN pref b ON a.k = b.k AND a.doc_id < b.doc_id
       |    AND b.n * $den >= a.n * $num AND b.n * $num <= a.n * $den)
       |SELECT a_id, b_id, oa.n AS n_a, ob.n AS n_b,
       |  CAST(len(list_filter(oa.ks, x -> list_contains(ob.ks, x))) AS BIGINT)
       |    AS inter,
       |  oa.n + ob.n - len(list_filter(oa.ks, x -> list_contains(ob.ks, x)))
       |    AS uni,
       |  CAST((len(list_filter(oa.ks, x -> list_contains(ob.ks, x))) * 1000000)
       |    // (oa.n + ob.n - len(list_filter(oa.ks, x -> list_contains(ob.ks, x))))
       |    AS BIGINT) AS jac_ppm
       |FROM cand
       |JOIN ord oa ON oa.doc_id = a_id
       |JOIN ord ob ON ob.doc_id = b_id
       |WHERE len(list_filter(oa.ks, x -> list_contains(ob.ks, x))) * $den
       |  >= (oa.n + ob.n - len(list_filter(oa.ks, x -> list_contains(ob.ks, x)))) * $num""".stripMargin
  }

  val q143_oracle: String = s"${allPairsSql(1, 2)}\nORDER BY a_id, b_id"

  // ---------- q154: dedup-recall evaluation (LSH vs exact truth) ----------

  /** Evaluation-as-an-operator: q25's MinHash-LSH near-dup pairs
    * measured against the EXACT all-pairs truth at the same J ≥ 4/5
    * threshold (q143's prefix core parametrized to 4/5) — the
    * precision/recall audit any production dedup ships with, run
    * entirely inside the engine. Both sides speak the same 60-bit
    * shingle-key Jaccard, so every difference is the BANDING's miss,
    * not a domain mismatch; LSH verifies candidates exactly, so
    * precision is 1 by construction and the spec-worthy number is
    * RECALL (+ missed-pair id-sum pinning the exact missed SET, the
    * q105 rule).
    *
    * Scale shape: the exact side is the q143 prefix join (bounded by
    * rare-token postings); the LSH side reuses the session's stored
    * signature index; the compare is one full-outer join on pair keys
    * sized by the PAIR tables, not the corpus.
    */
  def q154_dedup_eval(spark: SparkSession, dir: String): DataFrame = {
    val exact = allPairsExact(spark, dir, 4, 5)
      .select(col("a_id"), col("b_id"), lit(1L).as("in_exact"))
    val lsh = lshPairs(spark, dir)
      .select(col("a_id"), col("b_id"), lit(1L).as("in_lsh"))
    exact.join(lsh, Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(col("in_exact")).cast("long").as("n_exact"),
        sum(col("in_lsh")).cast("long").as("n_lsh"),
        sum(col("in_exact") * col("in_lsh")).cast("long").as("n_common"),
        count_if(col("in_lsh").isNull).cast("long").as("n_missed"),
        count_if(col("in_exact").isNull).cast("long").as("n_extra"),
        coalesce(sum(when(col("in_lsh").isNull, col("a_id") + col("b_id"))), lit(0L))
          .cast("long").as("missed_id_sum"))
      .withColumn("recall_ppm", expr("(n_common * 1000000) DIV n_exact"))
  }

  val q154_oracle: String =
    s"""WITH ex AS (${allPairsSql(4, 5)}),
       |lsh AS ($lshPairsSql),
       |j AS (
       |  SELECT ex.a_id AS ea, ex.b_id AS eb, lsh.a_id AS la, lsh.b_id AS lb
       |  FROM ex FULL JOIN lsh ON ex.a_id = lsh.a_id AND ex.b_id = lsh.b_id)
       |SELECT
       |  CAST(count(ea) AS BIGINT) AS n_exact,
       |  CAST(count(la) AS BIGINT) AS n_lsh,
       |  CAST(count(CASE WHEN ea IS NOT NULL AND la IS NOT NULL THEN 1 END)
       |    AS BIGINT) AS n_common,
       |  CAST(count(CASE WHEN la IS NULL THEN 1 END) AS BIGINT) AS n_missed,
       |  CAST(count(CASE WHEN ea IS NULL THEN 1 END) AS BIGINT) AS n_extra,
       |  CAST(coalesce(sum(CASE WHEN la IS NULL THEN ea + eb END), 0) AS BIGINT)
       |    AS missed_id_sum,
       |  (count(CASE WHEN ea IS NOT NULL AND la IS NOT NULL THEN 1 END) * 1000000)
       |    // count(ea) AS recall_ppm
       |FROM j""".stripMargin

  // ---------- q155: language-ID evaluation ----------

  /** Classifier evaluation as an engine operator (the q154 pattern
    * applied to q20's language detector): per-language precision /
    * recall / F1 against the corpus's declared labels, in exact ppm —
    * tp/fp/fn fold out of one confusion-matrix aggregation, and
    * F1 = 2pr/(p+r) rides the integer DIV recipe so the whole eval
    * table hash-matches cross-engine. Declared labels are the truth;
    * 'und' detections count as misses of their declared class (the
    * detector's abstentions hurt recall, not precision — standard
    * multi-class convention).
    *
    * Scale shape: one narrow detector scan (the q20 expression) into
    * a |langs|²-bounded confusion aggregate; everything after is
    * arithmetic on that tiny table.
    */
  def q155_langid_eval(spark: SparkSession, dir: String): DataFrame = {
    val conf = docs(spark, dir)
      .select(col("lang").as("declared"),
        T.langId(T.tokens(col("text"))).as("detected"))
      .groupBy("declared", "detected")
      .agg(count(lit(1)).cast("long").as("n"))
    val tp = sum(when(col("declared") === col("lang") &&
      col("detected") === col("lang"), col("n")).otherwise(0L))
    val fp = sum(when(col("declared") =!= col("lang") &&
      col("detected") === col("lang"), col("n")).otherwise(0L))
    val fn = sum(when(col("declared") === col("lang") &&
      col("detected") =!= col("lang"), col("n")).otherwise(0L))
    conf.crossJoin(conf.select(col("declared").as("lang")).distinct())
      .groupBy("lang")
      .agg(tp.cast("long").as("tp"), fp.cast("long").as("fp"),
        fn.cast("long").as("fn"))
      .withColumn("precision_ppm",
        when(col("tp") + col("fp") > 0,
          expr("(tp * 1000000) DIV (tp + fp)")).otherwise(0L))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") > 0,
          expr("(tp * 1000000) DIV (tp + fn)")).otherwise(0L))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") > 0,
          expr("(2 * precision_ppm * recall_ppm) DIV (precision_ppm + recall_ppm)"))
          .otherwise(0L))
      .orderBy("lang")
  }

  val q155_oracle: String = {
    val det = graft.functions.TextFunctions.langIdSql(T.tokensSql("text"))
    s"""WITH conf AS (
       |  SELECT lang AS declared, $det AS detected,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |langs AS (SELECT DISTINCT declared AS lang FROM conf),
       |m AS (
       |  SELECT lang,
       |    CAST(sum(CASE WHEN declared = lang AND detected = lang THEN n ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN declared <> lang AND detected = lang THEN n ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN declared = lang AND detected <> lang THEN n ELSE 0 END) AS BIGINT) AS fn
       |  FROM conf CROSS JOIN langs GROUP BY lang),
       |pr AS (
       |  SELECT *,
       |    CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) ELSE 0 END AS precision_ppm,
       |    CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) ELSE 0 END AS recall_ppm
       |  FROM m)
       |SELECT lang, tp, fp, fn, precision_ppm, recall_ppm,
       |  CASE WHEN precision_ppm + recall_ppm > 0
       |    THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm)
       |    ELSE 0 END AS f1_ppm
       |FROM pr ORDER BY lang""".stripMargin
  }

  // ---------- q158: source-characteristic vocabulary (keyness) ----------

  /** Minimum per-source occurrences for a keyness candidate. */
  val keynessMinCount = 5L

  /** Distinctive vocabulary per source by integer-exact LIFT
    * (corpus-linguistics "keyness", the q114 DIV recipe at the
    * source×token level): `(c_sw·N·10⁶) DIV (c_w·N_s)` — how much
    * more frequent a token is in source s than in the corpus; log
    * variants (log-likelihood keyness) are monotone in this ratio for
    * fixed marginals, so the top-k set is the canonical one with zero
    * floats. Top-5 per source, min-count floored.
    *
    * Scale shape: one (source, token) partial-agg shuffle (the
    * exploded corpus collapses map-side), marginals derive from that
    * table (never a second corpus pass), the rank window runs over
    * the vocab-sized lift table.
    */
  def q158_source_keyness(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val sw = docs(spark, dir)
      .select(col("source"), explode(T.tokens(lower(col("text")))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).cast("long").as("c_sw"))
      .persist()
    try {
      val perSource = sw.groupBy("source").agg(sum(col("c_sw")).cast("long").as("n_s"))
      val perToken = sw.groupBy("w").agg(sum(col("c_sw")).cast("long").as("c_w"))
      val total = perSource.agg(sum(col("n_s")).cast("long").as("n_tot"))
      val wk = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("lift_micro").desc, col("w").asc)
      sw.filter(col("c_sw") >= keynessMinCount)
        .join(broadcast(perSource), "source")
        .join(perToken, "w")
        .crossJoin(broadcast(total))
        .withColumn("lift_micro",
          expr(s"CAST((CAST(c_sw AS $dec38) * n_tot * 1000000) DIV " +
            s"(CAST(c_w AS $dec38) * n_s) AS BIGINT)"))
        .withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= 5)
        .select("source", "rk", "w", "c_sw", "c_w", "lift_micro")
        .orderBy("source", "rk")
        .transform(graft.Lineage.cut)
    } finally sw.unpersist()
  }

  val q158_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH sw AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
       |  FROM (SELECT source, unnest($toks) AS w FROM documents)
       |  GROUP BY 1, 2),
       |ps AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
       |pt AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
       |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM ps),
       |lifted AS (
       |  SELECT sw.source, sw.w, sw.c_sw, pt.c_w,
       |    CAST((CAST(sw.c_sw AS HUGEINT) * n_tot * 1000000)
       |      // (CAST(pt.c_w AS HUGEINT) * ps.n_s) AS BIGINT) AS lift_micro
       |  FROM sw JOIN ps USING (source) JOIN pt USING (w) CROSS JOIN tot
       |  WHERE sw.c_sw >= $keynessMinCount)
       |SELECT source, rk, w, c_sw, c_w, lift_micro FROM (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY lift_micro DESC, w ASC) AS rk
       |  FROM lifted)
       |WHERE rk <= 5 ORDER BY source, rk""".stripMargin
  }

  // ---------- q165: corpus saturation curve ----------

  /** Corpus-growth saturation curve — q139's per-document novelty
    * aggregated along ingestion order into 10 deciles: per decile,
    * total shingle instances, shingles first seen there, the exact
    * per-decile novelty rate, and the cumulative distinct count. The
    * curve answers "is new data still adding new content, or are we
    * re-crawling ourselves" — the flattening point is where another
    * TB stops buying vocabulary. Deciles come from the q146 rank rule
    * (`((rank−1)·10) DIV n` over doc_id order), so bucket populations
    * are exact to ±1 with no boundary search.
    *
    * Scale shape: key sets from the stored SigIndex (q139's rule);
    * the doc-order decile comes from [[graft.operators.RangeRank]]
    * (bucketed exact rank — no single-task sort of the doc list);
    * instance counts and first-seen counts are two partial-agg passes
    * over the (doc, key) stream; the cumsum window runs over 10 rows.
    */
  def q165_novelty_curve(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sh = sigIndex(spark, dir)
      .select(col("doc_id"), explode(col("skd")).as("k"))
    val docDecile = RangeRank.rank(
        sigIndex(spark, dir).select(col("doc_id")),
        Nil, Seq(RangeRank.Key("doc_id")), "rnk", "n")
      .select(col("doc_id"), expr("((rnk - 1) * 10) DIV n").cast("int").as("decile"))
    val keyed = sh.join(docDecile, "doc_id")
    val instances = keyed.groupBy("decile")
      .agg(count(lit(1)).cast("long").as("n_instances"))
    val novel = keyed.groupBy("k").agg(min(col("decile")).as("decile"))
      .groupBy("decile").agg(count(lit(1)).cast("long").as("n_novel"))
    instances.join(novel, Seq("decile"), "left_outer")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) DIV n_instances"))
      .withColumn("cum_distinct", sum(col("n_novel")).over(wCum).cast("long"))
      .orderBy("decile")
  }

  val q165_oracle: String = {
    val keys = H.shingleKeysSql(H.shinglesSql(T.tokensSql("text")))
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, k
       |  FROM (SELECT doc_id, unnest(list_distinct($keys)) AS k FROM documents)),
       |dd AS (
       |  SELECT doc_id,
       |    CAST(((row_number() OVER (ORDER BY doc_id) - 1) * 10)
       |      // (count(*) OVER ()) AS INTEGER) AS decile
       |  FROM (SELECT DISTINCT doc_id FROM sh)),
       |keyed AS (SELECT sh.doc_id, sh.k, dd.decile FROM sh JOIN dd USING (doc_id)),
       |inst AS (
       |  SELECT decile, CAST(count(*) AS BIGINT) AS n_instances
       |  FROM keyed GROUP BY decile),
       |nov AS (
       |  SELECT decile, CAST(count(*) AS BIGINT) AS n_novel FROM (
       |    SELECT k, min(decile) AS decile FROM keyed GROUP BY k)
       |  GROUP BY decile)
       |SELECT decile, n_instances,
       |  coalesce(n_novel, 0) AS n_novel,
       |  (coalesce(n_novel, 0) * 1000000) // n_instances AS novelty_ppm,
       |  CAST(sum(coalesce(n_novel, 0)) OVER (ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_distinct
       |FROM inst LEFT JOIN nov USING (decile)
       |ORDER BY decile""".stripMargin
  }

  // ---------- q185: dedup threshold-sensitivity sweep ----------

  /** The thresholds swept (num/den Jaccard fractions). */
  val sweepThresholds: Seq[(Int, Int)] = Seq((1, 2), (3, 5), (4, 5))

  /** Dedup threshold-sensitivity sweep — the tuning table behind
    * "where do we set the near-dup cutoff": the EXACT all-pairs core
    * (q143) run at 1/2, 3/5, 4/5, reporting per threshold the pair
    * count, docs-touched count, and the pair-similarity profile
    * (min/mean jac in ppm). Because every run is exact, the deltas
    * between rows are true marginal pairs, not LSH noise — this is
    * the PR-curve x-axis a curation team sweeps before committing a
    * threshold to q60's removal.
    *
    * Scale shape: three prefix-filtered runs over the stored index.
    * Lower thresholds mean longer prefixes and quadratically hotter
    * posting joins — measured at the 10× corpus: a 2/5 leg (60% of
    * every doc's keys exposed) cost 177 s where 1/2 costs ~13 s, so
    * the sweep floor is 1/2; below that, sweep on an LSH candidate
    * superset instead of exactly.
    */
  def q185_threshold_sweep(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    // ONE persisted ord shared by all three arms, ONE materialization:
    // before (r18 opt) each arm re-persisted the stored OrdIndex and
    // eagerly checkpointed alone, so the sweep ran as three strictly
    // serial jobs; as union branches of a single job the three prefix
    // joins are independent subtrees whose stages the scheduler
    // overlaps across the cores (guide §2.6)
    val ord = ordIndex(spark, dir).persist()
    try {
      val rows = sweepThresholds.map { case (num, den) =>
        allPairsExactOn(ord, num, den)
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            count_distinct(col("a_id")).cast("long").as("n_a_docs"),
            coalesce(min(col("jac_ppm")), lit(0L)).as("min_jac_ppm"),
            coalesce(expr(s"CAST(sum(CAST(jac_ppm AS $dec38)) DIV count(*) AS BIGINT)"),
              lit(0L)).as("mean_jac_ppm"))
          .select(lit(s"$num/$den").as("threshold"),
            lit(num * 1000000L / den).as("threshold_ppm"),
            col("n_pairs"), col("n_a_docs"), col("min_jac_ppm"),
            col("mean_jac_ppm"))
      }
      rows.reduce(_ unionByName _).orderBy("threshold_ppm")
        .transform(graft.Lineage.cut) // eager: survives the unpersist
    } finally ord.unpersist()
  }

  val q185_oracle: String = {
    val arms = sweepThresholds.map { case (num, den) =>
      s"""SELECT '$num/$den' AS threshold,
         |  CAST(${num * 1000000L / den} AS BIGINT) AS threshold_ppm,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT a_id) AS BIGINT) AS n_a_docs,
         |  CAST(coalesce(min(jac_ppm), 0) AS BIGINT) AS min_jac_ppm,
         |  CAST(coalesce(sum(CAST(jac_ppm AS HUGEINT)) // count(*), 0) AS BIGINT)
         |    AS mean_jac_ppm
         |FROM (${allPairsSql(num, den)})""".stripMargin
    }
    arms.mkString("", "\nUNION ALL\n", "\nORDER BY threshold_ppm")
  }

  // ---------- q191: MinHash estimator-error audit ----------

  /** MinHash ESTIMATE vs exact-Jaccard audit over q25's emitted pairs
    * — the estimator-calibration table (the k=12 signature estimates
    * J as matching-components/12; how wrong is it on the pairs we
    * actually act on?): per pair, the signature agreement in exact
    * ppm, the true Jaccard in exact ppm (integer intersect over the
    * stored 60-bit key sets), and the absolute error. The decision
    * "is k=12 enough or do we pay for k=24" reads directly off
    * max(err). Everything from the STORED index — signatures and key
    * sets ride the same parquet, no re-tokenization.
    */
  def q191_minhash_estimate(spark: SparkSession, dir: String): DataFrame = {
    val idx = sigIndex(spark, dir)
    val pairs = lshPairs(spark, dir).select("a_id", "b_id")
    val sigCols = (0 until minhashK).map(i => f"mh$i%02d")
    def side(p: String) = idx.select(
      col("doc_id").as(s"${p}_id") +: col("skd").as(s"${p}_skd") +:
        sigCols.map(c => col(c).as(s"${p}_$c")): _*)
    pairs.join(side("a"), "a_id").join(side("b"), "b_id")
      .withColumn("est_ppm",
        expr(s"(${sigCols.map(c => s"CASE WHEN a_$c = b_$c THEN 1 ELSE 0 END")
          .mkString(" + ")}) * 1000000 DIV $minhashK"))
      .withColumn("inter",
        call_function("intersect_count", col("a_skd"), col("b_skd")).cast("long"))
      .withColumn("jac_ppm", expr(
        "(inter * 1000000) DIV (size(a_skd) + size(b_skd) - inter)"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("jac_ppm")))
      .select("a_id", "b_id", "est_ppm", "jac_ppm", "abs_err_ppm")
      .orderBy("a_id", "b_id")
  }

  val q191_oracle: String = {
    val sigCols = (0 until minhashK).map(i => f"mh$i%02d")
    val matchSum = sigCols.map(c => s"CASE WHEN a.$c = b.$c THEN 1 ELSE 0 END")
      .mkString(" + ")
    val keys = (p: String) => s"list_distinct(${H.shingleKeysSql(s"$p.sh")})"
    val inter = s"len(list_filter(${keys("a")}, x -> list_contains(${keys("b")}, x)))"
    val uni = s"(len(${keys("a")}) + len(${keys("b")}) - $inter)"
    s"""WITH sigt AS (SELECT * FROM $sigTableSql),
       |pairs AS ($lshPairsSql)
       |SELECT p.a_id, p.b_id,
       |  CAST((($matchSum) * 1000000) // $minhashK AS BIGINT) AS est_ppm,
       |  CAST(($inter * 1000000) // $uni AS BIGINT) AS jac_ppm,
       |  CAST(abs((($matchSum) * 1000000) // $minhashK
       |    - ($inter * 1000000) // $uni) AS BIGINT) AS abs_err_ppm
       |FROM pairs p
       |JOIN sigt a ON a.doc_id = p.a_id
       |JOIN sigt b ON b.doc_id = p.b_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q192: the pure-SQL user surface ----------

  /** The SQL-user surface exercised end-to-end: this operator is ONE
    * SQL STRING through `spark.sql` — no DataFrame combinators —
    * whose hot per-row work runs in the NATIVE codegen expressions
    * GraftExtensions injects as SQL functions (`token_count`, the
    * single-byte-scan tokenizer counter, and `poly_hash`, the
    * Rabin–Karp fingerprint). A user who only speaks SQL gets the
    * same fused fast paths the Scala API gets, and the same DuckDB
    * oracle checks them — the `spark.sql.extensions` contract proven
    * at the query level, not just in unit specs.
    */
  def q192_sql_surface(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("documents_v")
    spark.sql(
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(token_count(text)) AS BIGINT) AS n_tokens,
        |  CAST(sum(poly_hash(text) % 1000000) AS BIGINT) AS fp_mod_sum,
        |  CAST(max(token_count(text)) AS BIGINT) AS max_tokens
        |FROM documents_v
        |GROUP BY source
        |ORDER BY source""".stripMargin)
  }

  val q192_oracle: String = {
    val toks = T.tokensSql("text")
    val fp = T.fingerprintSql("text")
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum(len($toks)) AS BIGINT) AS n_tokens,
       |  CAST(sum(($fp) % 1000000) AS BIGINT) AS fp_mod_sum,
       |  CAST(max(len($toks)) AS BIGINT) AS max_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q203: LSH candidate-precision audit ----------

  /** The PRECISION complement of q154's recall audit: q154 asks "do
    * the bands find every true pair" (what dedup loses); this asks
    * "how much junk do the bands SURFACE" (what verification pays
    * for). All DISTINCT candidate pairs from the band-bucket join —
    * BEFORE the Jaccard ≥ 0.8 filter — bucketed by their true
    * Jaccard decile, with the verified share per bucket in ppm. A
    * low-precision band config wastes the whole verify budget on
    * sub-threshold pairs; the decile histogram shows WHERE the
    * wasted candidates live, which is how you pick band/row counts
    * for the next corpus.
    *
    * Scale shape: the same bucket-bounded candidate join every LSH
    * consumer uses, one |pairs|-sized distinct + a 10-row rollup;
    * the Jaccard doubles are the suite's bit-identical fold, so the
    * decile floor is cross-engine stable.
    */
  def q203_lsh_precision(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandsFromIndex(sigIndex(spark, dir))
    val a = bands.select(col("band"), col("bucket"),
      col("doc_id").as("a_id"), col("skd").as("a_sk"))
    val b = bands.select(col("band"), col("bucket"),
      col("doc_id").as("b_id"), col("skd").as("b_sk"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        keyJaccard(col("a_sk"), col("b_sk")).as("j"))
      .distinct()
      .withColumn("j_decile",
        least(floor(col("j") * 10).cast("int"), lit(9)))
      .groupBy("j_decile")
      .agg(count(lit(1)).cast("long").as("n_candidates"),
        count_if(col("j") >= 0.8).cast("long").as("n_verified"))
      .withColumn("verified_ppm",
        expr("(n_verified * 1000000) DIV n_candidates"))
      .orderBy("j_decile")
  }

  // ---------- q229: signature-index erasure ----------

  /** The DELETE half of index maintenance — the missing lifecycle leg
    * next to build (q76), append (q94) and probe (q73): q121 feeds
    * erasure requests and q206 scopes them; this EXECUTES one against
    * the stored signature index. Parquet files are immutable, so
    * in-place deletion does not exist: erased docs are masked by a
    * TOMBSTONE anti-join at read time (the tombstone-then-compact
    * pattern a columnar store actually uses) and near-dup pairs
    * recompute from the surviving rows. Banding is per-doc stateless,
    * so the tombstone-filtered read is EXACTLY a rebuild without the
    * erased documents — the oracle is q25's pair query over the
    * erased-filtered index verbatim (erase ≡ rebuild-without, the
    * erasure face of the q94/q209/q224/q227 incremental-≡-rescan
    * contract).
    *
    * Scale shape: the tombstone set is request-sized and derives from
    * the erasure feed, not the index; the mask is one doc-id-keyed
    * anti-join on the narrow index with NO broadcast hint (a GDPR
    * batch or boilerplate purge can be a large fraction of the corpus;
    * AQE decides), then the standard bucket-bounded pair machinery.
    * The deterministic `del|` eighth plays the request.
    */
  def q229_index_erasure(spark: SparkSession, dir: String): DataFrame = {
    val erased =
      substring(md5(concat(lit("del|"), col("doc_id").cast("string"))), 1, 1)
        .isin("0", "1")
    val tombstones = docs(spark, dir).filter(erased).select("doc_id")
    val kept = sigIndex(spark, dir)
      .join(tombstones, Seq("doc_id"), "left_anti")
    pairsFromIndex(kept).orderBy("a_id", "b_id")
  }

  val q229_oracle: String = {
    val erasedFlag =
      "substring(md5(concat('del|', CAST(doc_id AS VARCHAR))), 1, 1) IN ('0', '1')"
    s"""WITH ${indexBandsCteSql(Some(erasedFlag -> "erased"))}
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  ${keyJaccardSql("a", "b")} AS jaccard
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |WHERE NOT a.erased AND NOT b.erased
       |  AND ${keyJaccardSql("a", "b")} >= 0.8
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q261: signature-index compaction ----------

  /** COMPACTION — the step that closes the tombstone story q229
    * opens: masked reads are correct but pay the anti-join forever
    * and the erased rows still sit on disk (a GDPR erasure isn't
    * done until the bytes are gone). Compaction rewrites the stored
    * index WITHOUT the tombstoned rows as a new version on scratch;
    * a post-compaction read needs no mask and MUST equal the masked
    * read bit-for-bit (oracle = q229's verbatim; banding is per-doc
    * stateless, so dropping rows never changes surviving pairs —
    * the same argument that made the mask correct). The spec
    * additionally pins that no erased id survives in the compacted
    * file itself, not just in the pair output.
    *
    * Scale shape: ONE anti-join + a linear index rewrite (the only
    * full pass — exactly what a compaction costs by definition);
    * every read after it drops the per-query anti-join.
    */
  def q261_index_compact(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q261-") { work =>
      val erased =
        substring(md5(concat(lit("del|"), col("doc_id").cast("string"))), 1, 1)
          .isin("0", "1")
      val tombstones = docs(spark, dir).filter(erased).select("doc_id")
      sigIndex(spark, dir)
        .join(tombstones, Seq("doc_id"), "left_anti")
        .write.parquet(s"$work/compacted")
      pairsFromIndex(spark.read.parquet(s"$work/compacted"))
        .orderBy("a_id", "b_id")
    }

  /** Compaction ≡ masked read, by construction and by gate. */
  val q261_oracle: String = q229_oracle

  // ---------- q226: SimHash candidate-precision audit ----------

  /** q203's precision audit for the OTHER candidate generator: all
    * SimHash Hamming-≤1 probe candidates (q69's pair source, BEFORE
    * the size prefilter and Jaccard verify), bucketed by true-Jaccard
    * decile with the verified share in ppm. The two audits together
    * price the suite's two near-dup channels on the same scale — a
    * fingerprint width that under-buckets shows up here as candidate
    * mass in the low deciles, exactly as a too-coarse band config
    * shows up in q203; this is the table
    * [[graft.functions.HashFunctions.simhashWidthFor]]'s +2-bits-per-
    * doubling step is calibrated against.
    *
    * Scale shape: the q69 probe fan-out (width+1 narrow rows/doc,
    * occupancy-governed by the corpus-adaptive width), then one
    * sk-array join pair and a 10-row rollup. No distinct needed: a
    * Hamming-≤1 pair matches exactly once by construction (q69's
    * probe-orientation argument), unlike LSH's multi-band collisions.
    */
  def q226_simhash_precision(spark: SparkSession, dir: String): DataFrame = {
    val width = H.simhashWidthFor(docs(spark, dir).count())
    val base = simhashTable(spark, dir, width).persist()
    base.count()
    try {
      val sk = base.select(col("doc_id"), col("sk"))
      simhashProbePairs(base, width)
        .select(col("a_id"), col("b_id"))
        .join(sk.select(col("doc_id").as("a_id"), col("sk").as("a_sk")), "a_id")
        .join(sk.select(col("doc_id").as("b_id"), col("sk").as("b_sk")), "b_id")
        .select(keyJaccard(col("a_sk"), col("b_sk")).as("j"))
        .withColumn("j_decile",
          least(floor(col("j") * 10).cast("int"), lit(9)))
        .groupBy("j_decile")
        .agg(count(lit(1)).cast("long").as("n_candidates"),
          count_if(col("j") >= 0.8).cast("long").as("n_verified"))
        .withColumn("verified_ppm",
          expr("(n_verified * 1000000) DIV n_candidates"))
        .orderBy("j_decile")
        .transform(graft.Lineage.cut) // 10 rows; survives the unpersist
    } finally base.unpersist()
  }

  /** DuckDB twin — q69's width-adaptive CTEs, with [[keyJaccard]]'s
    * exact operation order (inter/(lenA+lenB−inter), all-double) so
    * the decile floor is bit-stable across engines. */
  val q226_oracle: String = {
    val toks = T.tokensSql("text")
    val sh = H.shinglesSql("toks")
    val inter = "CAST(len(list_intersect(a.sk, b.sk)) AS DOUBLE)"
    val j = s"$inter / (CAST(len(a.sk) + len(b.sk) AS DOUBLE) - $inter)"
    s"""WITH w AS (SELECT ${H.simhashWidthCaseSql("count(*)")} AS wd FROM documents),
       |base AS (
       |  SELECT doc_id, list_distinct(${H.shingleKeysSql(sh)}) AS sk,
       |    ${H.simhashFromHashesDynSql("[md5(t) for t in toks]", "wd")} AS simhash
       |  FROM (SELECT doc_id, $toks AS toks FROM documents), w
       |  WHERE len(toks) >= 3),
       |probes AS (
       |  SELECT doc_id AS a_id,
       |    unnest([simhash] || [xor(simhash, CAST(1 AS BIGINT) << b) for b in range(0, wd)]) AS probe
       |  FROM base, w),
       |cand AS (
       |  SELECT p.a_id, e.doc_id AS b_id
       |  FROM probes p JOIN base e ON p.probe = e.simhash AND p.a_id < e.doc_id),
       |jt AS (
       |  SELECT $j AS j
       |  FROM cand JOIN base a ON cand.a_id = a.doc_id
       |  JOIN base b ON cand.b_id = b.doc_id)
       |SELECT least(CAST(floor(j * 10) AS INT), 9) AS j_decile,
       |  CAST(count(*) AS BIGINT) AS n_candidates,
       |  CAST(count(*) FILTER (WHERE j >= 0.8) AS BIGINT) AS n_verified,
       |  CAST((count(*) FILTER (WHERE j >= 0.8) * 1000000) // count(*)
       |    AS BIGINT) AS verified_ppm
       |FROM jt GROUP BY 1 ORDER BY j_decile""".stripMargin
  }

  val q203_oracle: String =
    s"""WITH ${indexBandsCteSql(None)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    ${keyJaccardSql("a", "b")} AS j
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |      AND a.doc_id < b.doc_id)
       |SELECT least(CAST(floor(j * 10) AS INT), 9) AS j_decile,
       |  CAST(count(*) AS BIGINT) AS n_candidates,
       |  CAST(count(*) FILTER (WHERE j >= 0.8) AS BIGINT) AS n_verified,
       |  CAST((count(*) FILTER (WHERE j >= 0.8) * 1000000) // count(*)
       |    AS BIGINT) AS verified_ppm
       |FROM cand GROUP BY 1 ORDER BY j_decile""".stripMargin

  // ---------- q213: shingle document-frequency profile ----------

  /** Document-frequency profile of the shingle-key space, in exact
    * power-of-two buckets (`length(bin(df)) − 1` — q166's integer
    * bit-length, no float log): per bucket, distinct keys, total
    * postings, min/max df. This is the report the suite's own df
    * CONSTANTS come from — q72's rare-shingle cutoff (df ≤ 5), q108's
    * hot-shingle prune, q195's rare-extent posting bound all assume a
    * particular head/tail shape; this measures it, so retuning for a
    * new corpus is a query, not a guess.
    *
    * Scale shape: one explode of the STORED SigIndex key sets + one
    * partial-agg shuffle keyed by the 60-bit key + a ≤64-row rollup.
    */
  def q213_shingle_df_profile(spark: SparkSession, dir: String): DataFrame =
    sigIndex(spark, dir)
      .select(explode(col("skd")).as("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("df"))
      .withColumn("df_bucket", expr("length(bin(df)) - 1").cast("int"))
      .groupBy("df_bucket")
      .agg(count(lit(1)).cast("long").as("n_keys"),
        sum(col("df")).cast("long").as("n_postings"),
        min(col("df")).as("min_df"),
        max(col("df")).as("max_df"))
      .orderBy("df_bucket")

  val q213_oracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, list_distinct(${H.shingleKeysSql("sh")}) AS skd
       |  FROM $sigTableSql),
       |ks AS (SELECT unnest(skd) AS k FROM base),
       |dfs AS (SELECT k, CAST(count(*) AS BIGINT) AS df FROM ks GROUP BY k)
       |SELECT CAST(length(bin(df)) - 1 AS INTEGER) AS df_bucket,
       |  CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(sum(df) AS BIGINT) AS n_postings,
       |  min(df) AS min_df, max(df) AS max_df
       |FROM dfs GROUP BY 1 ORDER BY df_bucket""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q203_lsh_precision" -> (q203_lsh_precision _),
    "q226_simhash_precision" -> (q226_simhash_precision _),
    "q229_index_erasure" -> (q229_index_erasure _),
    "q261_index_compact" -> (q261_index_compact _),
    "q270_neardup_source_matrix" -> (q270_neardup_source_matrix _),
    "q213_shingle_df_profile" -> (q213_shingle_df_profile _),
    "q143_allpairs" -> (q143_allpairs _),
    "q154_dedup_eval" -> (q154_dedup_eval _),
    "q155_langid_eval" -> (q155_langid_eval _),
    "q165_novelty_curve" -> (q165_novelty_curve _),
    "q158_source_keyness" -> (q158_source_keyness _),
    "q185_threshold_sweep" -> (q185_threshold_sweep _),
    "q191_minhash_estimate" -> (q191_minhash_estimate _),
    "q192_sql_surface" -> (q192_sql_surface _),
    "q139_novelty" -> (q139_novelty _),
    "q19_token_count" -> (q19_token_count _),
    "q20_lang_id" -> (q20_lang_id _),
    "q21_quality_score" -> (q21_quality_score _),
    "q22_fingerprint" -> (q22_fingerprint _),
    "q23_dedup_exact" -> (q23_dedup_exact _),
    "q24_minhash_sig" -> (q24_minhash_sig _),
    "q25_minhash_lsh_pairs" -> (q25_minhash_lsh_pairs _),
    "q26_ngram_jaccard" -> (q26_ngram_jaccard _),
    "q27_simhash" -> (q27_simhash _),
    "q69_simhash_probe" -> (q69_simhash_probe _),
    "q72_rare_shingle_pairs" -> (q72_rare_shingle_pairs _),
    "q73_incremental_neardup" -> (q73_incremental_neardup _),
    "q76_sig_index_persist" -> (q76_sig_index_persist _),
    "q94_sig_index_update" -> (q94_sig_index_update _),
    "q317_stream_sig_ingest" -> (q317_stream_sig_ingest _),
    "q95_content_chunks" -> (q95_content_chunks _),
    "q108_containment" -> (q108_containment _))

  val oracles: Map[String, String] = Map(
    "q203_lsh_precision" -> q203_oracle,
    "q226_simhash_precision" -> q226_oracle,
    "q229_index_erasure" -> q229_oracle,
    "q261_index_compact" -> q261_oracle,
    "q270_neardup_source_matrix" -> q270_oracle,
    "q213_shingle_df_profile" -> q213_oracle,
    "q139_novelty" -> q139_oracle,
    "q143_allpairs" -> q143_oracle,
    "q154_dedup_eval" -> q154_oracle,
    "q155_langid_eval" -> q155_oracle,
    "q165_novelty_curve" -> q165_oracle,
    "q158_source_keyness" -> q158_oracle,
    "q185_threshold_sweep" -> q185_oracle,
    "q191_minhash_estimate" -> q191_oracle,
    "q192_sql_surface" -> q192_oracle,
    "q19_token_count" -> q19_oracle,
    "q20_lang_id" -> q20_oracle,
    "q21_quality_score" -> q21_oracle,
    "q22_fingerprint" -> q22_oracle,
    "q23_dedup_exact" -> q23_oracle,
    "q24_minhash_sig" -> q24_oracle,
    "q25_minhash_lsh_pairs" -> q25_oracle,
    "q26_ngram_jaccard" -> q26_oracle,
    "q27_simhash" -> q27_oracle,
    "q69_simhash_probe" -> q69_oracle,
    "q72_rare_shingle_pairs" -> q72_oracle,
    "q73_incremental_neardup" -> q73_oracle,
    "q76_sig_index_persist" -> q76_oracle,
    "q94_sig_index_update" -> q94_oracle,
    "q317_stream_sig_ingest" -> q317_oracle,
    "q95_content_chunks" -> q95_oracle,
    "q108_containment" -> q108_oracle)
}
