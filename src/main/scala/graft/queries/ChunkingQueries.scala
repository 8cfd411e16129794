package graft.queries

import graft.Tables
import graft.functions.{HashFunctions => H, TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 position-robust dedup primitives (SURVEY §2 #214, #218):
  * content-defined chunking and winnowing fingerprints — the two
  * classic alignment-free complements to the FIXED-stride span dedup
  * of q81 (whose chunks shift under a single leading insertion; these
  * re-synchronize).
  *
  * Determinism policy (SURVEY §4): all hashes are md5-derived, all
  * ratios are integer DIV — bit-identical to the DuckDB oracles.
  */
object ChunkingQueries extends graft.QueryFamily {

  // ---------- q214: content-defined chunk dedup ----------

  /** Rolling-window width for the cut-point decision. */
  val cdcW = 4

  /** Cut-point modulus: a boundary lands after token i when the hash
    * of the trailing [[cdcW]]-token window ≡ 0 (mod [[cdcD]]) — mean
    * chunk length ≈ cdcD tokens. */
  val cdcD = 8

  /** Content-defined chunk dedup (the Rabin/LBFS chunking idea applied
    * to token streams): chunk boundaries are a pure function of the
    * LOCAL token window, so a duplicated passage produces identical
    * chunks no matter where it sits in a document — the property
    * fixed-stride spans (q81) lack. Each chunk is md5-identified;
    * a chunk appearing in ≥ 2 distinct documents is duplicate mass.
    * Output: the per-source duplicate-mass profile — the honest
    * position-robust complement to q81's keep/drop verdict.
    *
    * Scale shape: chunking is a narrow per-row map (token array →
    * cut positions → chunk hashes, all inside one codegen'd
    * projection); chunk frequency is one partial-agg shuffle keyed by
    * the 16-byte hash; the dup set joins back hash-keyed (no
    * broadcast hint — dup chunks are corpus-scaled). Nothing carries
    * more than (doc, hash, len) rows.
    */
  def q214_cdc_spans(spark: SparkSession, dir: String): DataFrame = {
    val w = cdcW
    val hcut = (i: Column, tk: Column) =>
      conv(substring(md5(concat_ws(" ", slice(tk, i - lit(w - 1), lit(w)))), 1, 8),
        16, 10).cast("long") % cdcD === 0
    val chunks = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), T.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .withColumn("cuts",
        when(col("n") >= 1, concat(
          array(lit(0)),
          filter(
            when(col("n") >= w, sequence(lit(w), col("n")))
              .otherwise(array().cast("array<int>")),
            i => hcut(i, col("tk")) && i < col("n")),
          array(col("n"))))
          .otherwise(array().cast("array<int>")))
      .withColumn("js",
        when(size(col("cuts")) >= 2, sequence(lit(1), size(col("cuts")) - 1))
          .otherwise(array().cast("array<int>")))
      .withColumn("hl", transform(col("js"), j =>
        md5(concat_ws(" ", slice(col("tk"), element_at(col("cuts"), j) + 1,
          element_at(col("cuts"), j + 1) - element_at(col("cuts"), j))))))
      .withColumn("ll", transform(col("js"), j =>
        element_at(col("cuts"), j + 1) - element_at(col("cuts"), j)))
      .select(col("source"), col("doc_id"),
        explode(arrays_zip(col("hl"), col("ll"))).as("c"))
      .select(col("source"), col("doc_id"),
        col("c.hl").as("h"), col("c.ll").cast("long").as("clen"))
      // materialized once (Lineage.cut): the chunk table feeds the
      // duplicate-frequency aggregate AND the profile join, and the
      // per-row chunking map (an md5 per rolling window plus one per
      // chunk) is the expensive part — unmaterialized it ran twice (§2.4)
      .transform(graft.Lineage.cut)
    val dup = chunks.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("cdf"))
      .filter(col("cdf") >= 2)
      .select(col("h"), lit(1L).as("is_dup"))
    chunks.join(dup, Seq("h"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).cast("long").as("n_chunks"),
        count_distinct(col("h")).as("n_distinct_chunks"),
        sum(col("clen")).cast("long").as("chunk_tokens"),
        coalesce(sum(when(col("is_dup") === 1L, col("clen"))), lit(0L))
          .cast("long").as("dup_tokens"),
        count(when(col("is_dup") === 1L, 1)).cast("long").as("n_dup_occurrences"))
      .withColumn("dup_mass_ppm",
        when(col("chunk_tokens") > 0,
          expr("(dup_tokens * 1000000) DIV chunk_tokens")).otherwise(lit(0L)))
      .orderBy("source")
  }

  val q214_oracle: String = {
    val tk = T.tokensSql("text")
    val hcut = (iv: String) =>
      s"CAST(concat('0x', substring(md5(array_to_string(" +
        s"tk[($iv-${cdcW - 1}):$iv], ' ')), 1, 8)) AS BIGINT) % $cdcD = 0"
    s"""WITH t AS (SELECT doc_id, source, $tk AS tk FROM documents),
       |c AS (
       |  SELECT doc_id, source, tk, len(tk) AS n,
       |    CASE WHEN len(tk) >= 1 THEN
       |      list_concat(list_concat([0],
       |        [i for i in range($cdcW, len(tk) + 1)
       |           if ${hcut("i")} and i < len(tk)]), [len(tk)])
       |    ELSE [] END AS cuts
       |  FROM t),
       |sp AS (
       |  SELECT doc_id, source,
       |    unnest([md5(array_to_string(tk[(cuts[j]+1):cuts[j+1]], ' '))
       |            for j in range(1, len(cuts))]) AS h,
       |    unnest([CAST(cuts[j+1] - cuts[j] AS BIGINT)
       |            for j in range(1, len(cuts))]) AS clen
       |  FROM c WHERE len(cuts) >= 2),
       |dup AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  count(DISTINCT sp.h) AS n_distinct_chunks,
       |  CAST(sum(clen) AS BIGINT) AS chunk_tokens,
       |  CAST(coalesce(sum(CASE WHEN dup.h IS NOT NULL THEN clen END), 0)
       |    AS BIGINT) AS dup_tokens,
       |  CAST(count(CASE WHEN dup.h IS NOT NULL THEN 1 END) AS BIGINT)
       |    AS n_dup_occurrences,
       |  CASE WHEN sum(clen) > 0 THEN
       |    CAST(coalesce(sum(CASE WHEN dup.h IS NOT NULL THEN clen END), 0)
       |      * 1000000 // sum(clen) AS BIGINT)
       |  ELSE 0 END AS dup_mass_ppm
       |FROM sp LEFT JOIN dup ON sp.h = dup.h
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------- q218: winnowing fingerprints ----------

  /** Winnowing window: one fingerprint is guaranteed from every
    * [[winnowW]] consecutive shingle hashes (density ≤ 2/(w+1),
    * Schleimer et al. SIGMOD 2003). */
  val winnowW = 4

  /** Fingerprints shared by more than this many documents are
    * boilerplate — dropped before pair generation (the q72 rare-first
    * rule). */
  val winnowDfCut = 16L

  /** Minimum shared fingerprints for a reported pair. */
  val winnowMinShared = 3L

  /** Winnowing (MOSS) near-dup candidates: per document, the DISTINCT
    * minima of every [[winnowW]]-wide window over the 3-gram shingle
    * hash sequence — a position-robust fingerprint SAMPLE with
    * guaranteed coverage (any shared run of winnowW+2 tokens yields a
    * shared fingerprint), ~4× smaller than the full shingle set that
    * q25's MinHash bands consume. Documents sharing ≥
    * [[winnowMinShared]] rare fingerprints are reported with their
    * overlap count.
    *
    * Scale shape: fingerprint selection is one narrow projection
    * (array_min over sliding slices — no explode of raw windows);
    * postings shuffle keyed by fingerprint; the hot cutoff bounds the
    * per-fingerprint self-join exactly as q72 argues. No broadcast
    * hints anywhere.
    */
  def q218_winnowing(spark: SparkSession, dir: String): DataFrame = {
    val wW = winnowW
    val fps = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        transform(call_function("shingles3", col("text")),
          s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")).as("hs"))
      .withColumn("m", size(col("hs")))
      .select(col("doc_id"), explode(
        when(col("m") >= 1, array_distinct(
          transform(sequence(lit(1), greatest(lit(1), col("m") - (wW - 1))),
            p => array_min(slice(col("hs"), p, lit(wW))))))
          .otherwise(array().cast("array<bigint>"))).as("f"))
    // hot-fingerprint cut as one window over the f-keyed exchange
    // (was groupBy(f) + left_anti join-back, which re-derived the
    // whole fingerprint stream — tokenize + shingle + winnow — once
    // per plan copy); the result is materialized (Lineage.cut) because
    // the pair self-join consumes it twice. f is a 60-bit content
    // hash: no hot key for the window partition at any scale.
    val rare = graft.Lineage.cut(fps
      .withColumn("fdf", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")))
      .filter(col("fdf") <= winnowDfCut)
      .select("doc_id", "f"))
    rare.select(col("doc_id").as("a_id"), col("f"))
      .join(rare.select(col("doc_id").as("b_id"), col("f")), "f")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= winnowMinShared)
      .orderBy("a_id", "b_id")
  }

  val q218_oracle: String = {
    val sh = H.shinglesSql(T.tokensSql("text"))
    s"""WITH t AS (
       |  SELECT doc_id,
       |    [CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT)
       |     for s in $sh] AS hs
       |  FROM documents),
       |fp AS (
       |  SELECT DISTINCT doc_id, unnest(
       |    [list_min(hs[p:(p+${winnowW - 1})])
       |     for p in range(1, greatest(1, len(hs) - ${winnowW - 1}) + 1)]) AS f
       |  FROM t WHERE len(hs) >= 1),
       |rare AS (
       |  SELECT doc_id, f FROM fp
       |  WHERE f NOT IN (
       |    SELECT f FROM fp GROUP BY f HAVING count(*) > $winnowDfCut))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $winnowMinShared
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------- q222: winnowing recall/precision audit ----------

  /** Closes the eval loop for q218 the way q154/q203 close it for
    * MinHash-LSH: on the doc_id<500 slice where the EXACT pairwise
    * truth is affordable (q26's bigram-Jaccard ≥ 1/5 pairs), measure
    * what fraction of true pairs the winnowing candidates hit
    * (recall) and what fraction of candidates are true (precision at
    * the same threshold). One row — the operator's calibration
    * certificate, rerunnable whenever [[winnowW]]/[[winnowDfCut]]
    * change.
    *
    * Scale shape: both inputs are the already-bounded eval slice;
    * the audit is two hash joins on (a_id, b_id) and one global
    * aggregate.
    */
  def q222_winnow_recall(spark: SparkSession, dir: String): DataFrame = {
    val exact = q26_like(spark, dir).select(col("a_id"), col("b_id"))
    val cand = q218_winnowing(spark, dir)
      .filter(col("a_id") < 500 && col("b_id") < 500)
      .select(col("a_id"), col("b_id"))
    val hit = exact.join(cand, Seq("a_id", "b_id"), "left_semi")
    exact.agg(count(lit(1)).cast("long").as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).cast("long").as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).cast("long").as("n_hit")))
      .withColumn("recall_ppm",
        when(col("n_exact") > 0, expr("(n_hit * 1000000) DIV n_exact"))
          .otherwise(lit(0L)))
      .withColumn("precision_ppm",
        when(col("n_cand") > 0, expr("(n_hit * 1000000) DIV n_cand"))
          .otherwise(lit(0L)))
  }

  /** q26's exact pair set (bigram Jaccard ≥ 1/5 on the doc_id<500
    * slice) — recomputed here so the audit does not depend on
    * TextQueries' output column order. */
  private def q26_like(spark: SparkSession, dir: String): DataFrame =
    TextQueries.q26_ngram_jaccard(spark, dir)

  val q222_oracle: String =
    s"""WITH e AS (
       |  SELECT a_id, b_id FROM (${TextQueries.q26_oracle})),
       |c AS (
       |  SELECT a_id, b_id FROM ($q218_oracle)
       |  WHERE a_id < 500 AND b_id < 500),
       |h AS (SELECT e.a_id FROM e JOIN c USING (a_id, b_id)),
       |n AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_exact,
       |    (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_cand,
       |    (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_hit)
       |SELECT n_exact, n_cand, n_hit,
       |  CASE WHEN n_exact > 0 THEN CAST((n_hit * 1000000) // n_exact AS BIGINT)
       |    ELSE 0 END AS recall_ppm,
       |  CASE WHEN n_cand > 0 THEN CAST((n_hit * 1000000) // n_cand AS BIGINT)
       |    ELSE 0 END AS precision_ppm
       |FROM n""".stripMargin

  // ---------- registry ----------

  // ---------- q306: maximal repeated token runs ----------

  /** Run-gram width: a repeated substring of ≥ this many tokens is
    * guaranteed to contain a shared gram; shorter repeats are noise
    * by definition (the Lee et al. 2021 length floor). */
  val runLen = 8

  /** EXACT maximal repeated-run detection — the full suffix-array
    * dedup semantic at fixed granularity, where q81 chunks (stride-
    * aligned, boundary ±spanLen) and q214 re-synchronizes (boundary
    * at the next cut point): every SLIDING [[runLen]]-gram position
    * is tested for repetition by TOTAL occurrence count ≥ 2 (Lee et
    * al.'s predicate — a run repeated within a single document counts
    * too, not just cross-document), and per document the shared
    * positions merge into maximal intervals. Output per
    * affected document: exact tokens covered by text repeated
    * elsewhere, the longest single shared run, and the run count —
    * precisely the spans a remove-the-duplicate-span pass (Lee et
    * al.'s actual operation) would cut, with exact boundaries.
    *
    * Scale shape: the gram stream is a narrow (doc_id, 16-byte md5,
    * pos) explode — n rows per n-token doc, q82's shingle class; the
    * shared set is ONE partial-agg shuffle on the hash with df ≥ 2 (a
    * small set on a mostly-unique corpus) joined back hash-keyed;
    * interval merging is a per-document window — bounded by doc
    * length, fully parallel. Integer positions end to end.
    */
  /** The sliding-gram position stream both run queries share:
    * (doc_id, n_tokens, pos, h) — one row per [[runLen]]-gram start.
    * The gram id is the FULL 128-bit md5 carried as 16 raw bytes
    * (unhex), not the 32-char hex string: identical exactness, half
    * the shuffle bytes on the stream's two hash-keyed exchanges —
    * the dominant cost at 26× (gram volume is corpus-linear).
    */
  private[queries] def gramPositions(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= runLen)
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        posexplode(transform(sequence(lit(0), size(col("tk")) - runLen),
          i => unhex(md5(concat_ws(" ", slice(col("tk"), i + 1, lit(runLen))))))))
      .withColumnRenamed("pos", "p")
      .withColumnRenamed("col", "h")
      .withColumn("pos", col("p").cast("long")).drop("p")

  /** Per-doc maximal intervals over a set of gram positions: islands
    * split where the start-position gap exceeds [[runLen]] (intervals
    * of width runLen overlap or adjoin up to that gap). */
  private def islands(posSet: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    posSet
      .withColumn("ni",
        when(col("pos") - lag("pos", 1).over(w) > runLen, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(w))
      .groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"),
        count(lit(1)).as("np"))
  }

  def q306_repeated_runs(spark: SparkSession, dir: String): DataFrame = {
    val pos = gramPositions(spark, dir)
    // per-gram occurrence count as ONE window over the h-keyed
    // exchange instead of groupBy(h) + join-back: the aggregate and
    // the probe each re-derived the whole gram stream (tokenize +
    // md5 per position — the plan's two Generate subtrees), because
    // column pruning specializes the copies and defeats reuse. The
    // window form streams the grams ONCE and replaces two h-keyed
    // exchanges with one; h is a 128-bit content hash, so partition-
    // by-h has no hot key at any scale (guide §2.4).
    val shared = pos
      .withColumn("tot", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("tot") >= 2)
      .select("doc_id", "n_tokens", "pos")
    islands(shared)
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(
        sum(col("e") - col("s") + runLen).cast("long").as("covered_tokens"),
        max(col("e") - col("s") + runLen).cast("long").as("longest_run"),
        count(lit(1)).cast("long").as("n_runs"),
        sum(col("np")).cast("long").as("n_shared_positions"))
      .orderBy("doc_id")
  }

  val q306_oracle: String = {
    val tk = T.tokensSql("text")
    s"""WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
       |p AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |    unnest([md5(array_to_string(tk[i+1:i+$runLen], ' '))
       |            for i in range(0, len(tk) - $runLen + 1)]) AS h,
       |    unnest([CAST(i AS BIGINT)
       |            for i in range(0, len(tk) - $runLen + 1)]) AS pos
       |  FROM t WHERE len(tk) >= $runLen),
       |sh AS (SELECT h FROM p GROUP BY h
       |  HAVING count(*) >= 2),
       |sp AS (
       |  SELECT doc_id, n_tokens, pos,
       |    CASE WHEN pos - lag(pos) OVER
       |        (PARTITION BY doc_id ORDER BY pos) > $runLen
       |      THEN 1 ELSE 0 END AS ni
       |  FROM p JOIN sh USING (h)),
       |isl AS (
       |  SELECT doc_id, n_tokens, pos,
       |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM sp),
       |g AS (
       |  SELECT doc_id, n_tokens, island,
       |    min(pos) AS s, max(pos) AS e, count(*) AS np
       |  FROM isl GROUP BY 1, 2, 3)
       |SELECT doc_id, n_tokens,
       |  CAST(sum(e - s + $runLen) AS BIGINT) AS covered_tokens,
       |  CAST(max(e - s + $runLen) AS BIGINT) AS longest_run,
       |  CAST(count(*) AS BIGINT) AS n_runs,
       |  CAST(sum(np) AS BIGINT) AS n_shared_positions
       |FROM g GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin
  }

  // ---------- q311: owner-aware repeated-run scrub ----------

  /** The TRANSFORM q306's report feeds (Lee et al.'s actual
    * operation): remove every duplicated occurrence, keep exactly
    * one. Ownership is deterministic and local to each gram — the
    * globally first occurrence by (doc_id, pos) survives; every other
    * occurrence of that gram (in other docs AND later in the owner
    * doc itself, so within-doc repetition is scrubbed too) is
    * duplicate mass, merged per doc into maximal intervals and
    * counted as removed tokens. Output per document: token count,
    * tokens removed, tokens kept — the corpus-size ledger a dedup
    * pass must publish before a tokenizer consumes the result.
    *
    * Scale shape: q306's stream plus one (min over a 2-field struct)
    * per gram riding the SAME partial-agg shuffle that computes df —
    * no extra corpus pass; the non-owner filter is a per-row struct
    * comparison after the hash-keyed join-back.
    */
  def q311_run_scrub(spark: SparkSession, dir: String): DataFrame = {
    val pos = gramPositions(spark, dir)
    // df + owner per gram as TWO expressions in ONE window pass over
    // the h-keyed exchange (same rewrite as q306: the groupBy(h) +
    // join-back form re-derived the gram stream twice); the owner
    // (globally first occurrence) is min(struct(doc_id, pos)) over
    // the h partition, exactly the old aggregate
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val removedPos = pos
      .withColumn("tot", count(lit(1)).over(wh))
      .withColumn("o", min(struct(col("doc_id"), col("pos"))).over(wh))
      .filter(col("tot") >= 2 &&
        !(col("doc_id") === col("o.doc_id") && col("pos") === col("o.pos")))
      .select("doc_id", "n_tokens", "pos")
    val removed = islands(removedPos)
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s") + runLen).cast("long").as("n_removed"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(removed, Seq("doc_id"), "left")
      .withColumn("n_removed", coalesce(col("n_removed"), lit(0L)))
      .withColumn("n_kept", col("n_tokens") - col("n_removed"))
      .orderBy("doc_id")
  }

  val q311_oracle: String = {
    val tk = T.tokensSql("text")
    s"""WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
       |p AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |    unnest([md5(array_to_string(tk[i+1:i+$runLen], ' '))
       |            for i in range(0, len(tk) - $runLen + 1)]) AS h,
       |    unnest([CAST(i AS BIGINT)
       |            for i in range(0, len(tk) - $runLen + 1)]) AS pos
       |  FROM t WHERE len(tk) >= $runLen),
       |own AS (
       |  SELECT h, min(struct_pack(d := doc_id, p := pos)) AS o
       |  FROM p GROUP BY h HAVING count(*) >= 2),
       |rp AS (
       |  SELECT doc_id, pos
       |  FROM p JOIN own USING (h)
       |  WHERE NOT (doc_id = o.d AND pos = o.p)),
       |sp AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER
       |        (PARTITION BY doc_id ORDER BY pos) > $runLen
       |      THEN 1 ELSE 0 END AS ni
       |  FROM rp),
       |isl AS (
       |  SELECT doc_id, pos,
       |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM sp),
       |g AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos) AS e
       |  FROM isl GROUP BY 1, 2),
       |rm AS (
       |  SELECT doc_id, CAST(sum(e - s + $runLen) AS BIGINT) AS n_removed
       |  FROM g GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |  coalesce(rm.n_removed, 0) AS n_removed,
       |  CAST(len(tk) AS BIGINT) - coalesce(rm.n_removed, 0) AS n_kept
       |FROM t LEFT JOIN rm ON t.doc_id = rm.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q214_cdc_spans" -> (q214_cdc_spans _),
    "q218_winnowing" -> (q218_winnowing _),
    "q222_winnow_recall" -> (q222_winnow_recall _),
    "q306_repeated_runs" -> (q306_repeated_runs _),
    "q311_run_scrub" -> (q311_run_scrub _))

  val oracles: Map[String, String] = Map(
    "q214_cdc_spans" -> q214_oracle,
    "q218_winnowing" -> q218_oracle,
    "q222_winnow_recall" -> q222_oracle,
    "q306_repeated_runs" -> q306_oracle,
    "q311_run_scrub" -> q311_oracle)
}
