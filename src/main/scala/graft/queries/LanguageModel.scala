package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.streaming.FileFeed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical language-model scoring (round 8): the model-based
  * quality signal of the CCNet/Gopher curation recipe — score each
  * document by how predictable its token sequence is under a language
  * model trained on the corpus itself. Real pipelines use a KenLM
  * n-gram model; the engine-shaped core of that is exactly this:
  * one corpus pass trains vocabulary-bounded n-gram statistics, a
  * second pass scores every document against them via one join.
  * Floating log-perplexity would never agree across engines, so the
  * score is kept EXACT: each bigram contributes the scaled integer
  * `(c(w1,w2) · 10^6) div c(w1·)` — its maximum-likelihood conditional
  * probability in micro-units, integer-truncated — and a document's
  * fluency is the integer mean over its bigrams. Repetitive/templated
  * text scores high, character soup scores near zero, and every value
  * is independent of aggregation order (q83's rational-arithmetic
  * rule).
  */
object LanguageModel extends graft.QueryFamily {

  private val scale = 1000000L

  /** Lower-cased whitespace tokens — the LM's vocabulary convention. */
  private def lmTokens(c: org.apache.spark.sql.Column) = T.tokens(lower(c))

  /** Per-document bigram multiset: doc_id, source, bigram string. */
  private def bigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), lmTokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))

  /** The LM's trained state: bigram → count, one partial-agg shuffle
    * over the exploded corpus to a vocabulary-bounded table. This IS
    * the persistable index artifact of q302–q305 — counts are
    * ADDITIVE over document batches, so index maintenance never needs
    * the corpus back: append delta rows to ingest, append negated
    * rows to erase, sum on read.
    */
  private[queries] def countsOf(docs: DataFrame): DataFrame =
    bigrams(docs).groupBy("bigram")
      .agg(count(lit(1)).cast("long").as("c_bigram"))

  /** Score every document of `docs` against a trained count table:
    * prefix totals c(w1·) are derived from the counts themselves
    * (vocab-sized work), then one shuffle join of the exploded corpus
    * against the stats keyed by bigram.
    */
  private[queries] def scoreWithCounts(
      docs: DataFrame, counts: DataFrame): DataFrame = {
    val stats = counts
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("c_prefix",
        sum(col("c_bigram")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("w1")))
      .select("bigram", "c_bigram", "c_prefix")
    bigrams(docs).join(stats, Seq("bigram"))
      .withColumn("contrib", expr(s"(c_bigram * $scale) DIV c_prefix"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(col("contrib")).cast("long").as("contrib_sum"))
      .withColumn("fluency_micro", expr("contrib_sum DIV n_bigrams"))
      .select("doc_id", "source", "n_bigrams", "fluency_micro")
  }

  /** Train-and-score core over any (doc_id, source, text) frame —
    * factored out so LanguageModelSpec can pin the exact rational
    * arithmetic on hand-computed fixtures.
    */
  private[queries] def scoreDocs(docs: DataFrame): DataFrame =
    scoreWithCounts(docs, countsOf(docs))

  /** q104: train bigram counts + prefix totals on the corpus, then
    * score every document.
    *
    * Scale shape: the training tables are VOCABULARY-bounded — bigram
    * counts come from one partial-agg shuffle of the exploded corpus,
    * and the prefix totals c(w1·) are derived from the count table
    * itself (vocab-sized work), never a second corpus pass. Scoring is
    * one shuffle join of the exploded corpus against the stats table
    * keyed by bigram (AQE skew handling covers hot function-word
    * bigrams; at broadcast-able vocab sizes the planner ships the
    * stats instead), followed by a per-doc partial aggregation. Total:
    * two corpus-sized shuffles, both carrying (id, bigram) pairs —
    * no floats, no driver state, no iteration.
    */
  def q104_bigram_lm(spark: SparkSession, dir: String): DataFrame =
    scoreDocs(Tables.load(spark, dir, "documents")).orderBy("doc_id")

  val q104_oracle: String = lmOracleSql("")

  /** q104's oracle with an optional document-set restriction — the
    * erasure legs (q304/q305) recompute the SAME statement over the
    * retained corpus only: a maintained index must be
    * indistinguishable from a from-scratch rebuild on what remains.
    */
  private def lmOracleSql(docWhere: String): String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH tk AS (
       |  SELECT doc_id, source, $toks AS t FROM documents$docWhere),
       |bg AS (
       |  SELECT doc_id, source,
       |    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bigram
       |  FROM tk WHERE len(t) >= 2),
       |counts AS (
       |  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bigram
       |  FROM bg GROUP BY bigram),
       |stats AS (
       |  SELECT bigram, c_bigram,
       |    CAST(sum(c_bigram) OVER (
       |      PARTITION BY split_part(bigram, ' ', 1)) AS BIGINT) AS c_prefix
       |  FROM counts)
       |SELECT doc_id, source,
       |  CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum((c_bigram * $scale) // c_prefix) // count(*) AS BIGINT)
       |    AS fluency_micro
       |FROM bg JOIN stats USING (bigram)
       |GROUP BY doc_id, source
       |ORDER BY doc_id""".stripMargin
  }

  // ---------- q302–q305: LM count-index lifecycle ----------

  /** The erased eighth for q304/q305 (content-hash, like q229's
    * `del|` salt): erasure must be addressable by a stable key, never
    * by position.
    */
  private def lmErased =
    substring(md5(concat(lit("lm304|"), col("doc_id").cast("string"))), 1, 1)
      .isin("0", "1")

  private val lmErasedSql =
    "substring(md5(concat('lm304|', CAST(doc_id AS VARCHAR))), 1, 1) " +
      "IN ('0', '1')"

  /** Merge-on-read over the delta log: the stored index is an
    * APPEND-ONLY sequence of (bigram, c_bigram) delta rows — positive
    * from ingest, negative from erasure — and a reader materializes
    * current counts by summing per bigram and dropping non-positive
    * survivors. Exactly the LSM/merge-on-read contract a 100 TB
    * corpus needs: no ingest or erasure ever rewrites an existing
    * file; compaction (q305) amortizes read cost when the log grows.
    */
  private def merged(log: DataFrame): DataFrame =
    log.groupBy("bigram")
      .agg(sum(col("c_bigram")).cast("long").as("c_bigram"))
      .filter(col("c_bigram") > 0)

  private def mergedCounts(spark: SparkSession, path: String): DataFrame =
    merged(spark.read.parquet(path))

  /** Merge-on-read over a replay-safe [[graft.io.BatchLog]] root —
    * what the STREAMED maintenance legs score from.
    */
  private def mergedLog(spark: SparkSession, root: String): DataFrame =
    merged(graft.io.BatchLog.read(spark, root))

  /** Build the erasure-bearing delta log ONCE for q304/q305/q319:
    * full-corpus counts, then the erased eighth's counts appended
    * NEGATED — the three legs must provably run the same log, so the
    * two-write sequence lives here and nowhere else.
    */
  private def buildErasedLog(docs: DataFrame, path: String): Unit = {
    countsOf(docs).write.parquet(path)
    countsOf(docs.filter(lmErased))
      .withColumn("c_bigram", -col("c_bigram"))
      .write.mode("append").parquet(path)
  }

  /** q302: PERSIST the trained bigram counts and score from the
    * stored artifact — everything after the write sees only the
    * reopened index schema. Oracle: q104 verbatim (a persisted model
    * must reproduce the in-session one bit-identically).
    */
  def q302_lm_index_persist(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q302-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      countsOf(docs).write.parquet(s"$work/lm_index")
      scoreWithCounts(docs, mergedCounts(spark, s"$work/lm_index"))
        .orderBy("doc_id")
    }

  val q302_oracle: String = q104_oracle

  /** q303: INGEST — the index is built from the existing
    * seven-eighths only, then the arriving batch's counts are
    * appended as DELTA rows (mode=append; a bigram seen by both
    * sides simply has two rows, summed on read). Scoring the full
    * corpus from the merged log must be indistinguishable from a
    * from-scratch build: q104's oracle verbatim. Counts are additive,
    * so append IS the correct merge — no read-modify-write.
    */
  def q303_lm_index_update(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q303-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      val isBatch =
        substring(md5(concat(lit("lm303|"), col("doc_id").cast("string"))), 1, 1)
          .isin("0", "1")
      countsOf(docs.filter(!isBatch)).write.parquet(s"$work/lm_index")
      countsOf(docs.filter(isBatch))
        .write.mode("append").parquet(s"$work/lm_index")
      scoreWithCounts(docs, mergedCounts(spark, s"$work/lm_index"))
        .orderBy("doc_id")
    }

  val q303_oracle: String = q104_oracle

  /** q304: ERASURE — the erased eighth's counts are appended NEGATED
    * (tombstone deltas); merge-on-read sums them away, and a bigram
    * whose whole support was erased nets to zero and is dropped by
    * the `> 0` floor. Scoring the retained docs from the maintained
    * log must equal a from-scratch rebuild on the retained corpus —
    * the oracle recomputes exactly that.
    */
  def q304_lm_index_erasure(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q304-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      buildErasedLog(docs, s"$work/lm_index")
      scoreWithCounts(docs.filter(!lmErased),
          mergedCounts(spark, s"$work/lm_index"))
        .orderBy("doc_id")
    }

  val q304_oracle: String = lmOracleSql(s" WHERE NOT ($lmErasedSql)")

  /** q305: COMPACT — after q304's erasure the log holds tombstones;
    * compaction materializes the merged counts ONCE into a fresh
    * artifact (one positive row per bigram), and later readers score
    * from it directly with no merge-on-read aggregation. Same oracle
    * as q304: compaction must be a pure representation change.
    * Round16bOpsSpec additionally pins compacted ≡ delta-form row
    * for row and that the erased eighth is genuinely gone.
    */
  def q305_lm_index_compact(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q305-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      buildErasedLog(docs, s"$work/lm_index")
      mergedCounts(spark, s"$work/lm_index")
        .write.parquet(s"$work/lm_index_compact")
      scoreWithCounts(docs.filter(!lmErased),
          spark.read.parquet(s"$work/lm_index_compact"))
        .orderBy("doc_id")
    }

  val q305_oracle: String = q304_oracle

  /** q309: the ingest leg run as a STREAM — documents arrive in
    * micro-batches and each batch's bigram counts land as delta rows
    * appended to the stored log (foreachBatch; counts are additive,
    * so per-batch append IS the correct merge and no state store is
    * needed at all). After the stream drains, scoring the corpus from
    * the merged log must be indistinguishable from a from-scratch
    * build: q104's oracle verbatim. This makes the LM family the
    * first index with all four lifecycle legs PLUS streaming ingest —
    * the maintenance mode a 100 TB corpus actually runs (the log
    * grows one bounded delta per micro-batch; q305's compaction
    * amortizes the read).
    *
    * Replay safety: `foreachBatch` is at-least-once, so the delta
    * lands via [[graft.io.BatchLog.append]]'s batchId-keyed overwrite
    * — a re-delivered micro-batch rewrites identical bytes instead of
    * double-counting (BatchLogSpec pins it).
    */
  def q309_stream_lm_ingest(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q309-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      CurationFlow.stageTwoBatches(spark, work, docs, "doc_id",
        feed = Some(dir -> "documents"))
      FileFeed.drain(spark, s"$work/incoming", docs.schema, s"$work/ckpt")(
        _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.io.BatchLog.append(countsOf(batch), s"$work/lm_index", batchId)
          ()
        })
      scoreWithCounts(docs, mergedLog(spark, s"$work/lm_index"))
        .orderBy("doc_id")
    }

  val q309_oracle: String = q104_oracle

  /** q318: ERASURE requests arriving as a STREAM — the
    * right-to-be-forgotten feed a governed corpus actually receives
    * (q121's delete-feed shape applied to index maintenance): the
    * full index is built once, then each micro-batch of requests
    * appends the NEGATED counts of its erased documents
    * (foreachBatch; tombstone deltas are additive, so per-batch
    * append is the correct merge — no rebuild is ever scheduled).
    * Scoring the retained corpus from the drained log must equal a
    * from-scratch rebuild on what remains: q304's oracle verbatim.
    * With q309/q316/q317 this closes the streaming-maintenance
    * story: both INGEST and ERASURE run as streams against the same
    * stored artifact.
    */
  def q318_stream_lm_erasure(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q318-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      graft.io.BatchLog.base(countsOf(docs), s"$work/lm_index")
      // the erased eighth plays the request FEED, arriving in two
      // micro-batches (the same split harness the ingest legs drive)
      CurationFlow.stageTwoBatches(spark, work, docs.filter(lmErased), "doc_id")
      FileFeed.drain(spark, s"$work/incoming", docs.schema, s"$work/ckpt")(
        _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.io.BatchLog.append(
            countsOf(batch).withColumn("c_bigram", -col("c_bigram")),
            s"$work/lm_index", batchId)
          ()
        })
      scoreWithCounts(docs.filter(!lmErased),
          mergedLog(spark, s"$work/lm_index"))
        .orderBy("doc_id")
    }

  /** q304's oracle verbatim — see [[q318_stream_lm_erasure]]. */
  val q318_oracle: String = q304_oracle

  /** q319: the LOG-HEALTH report a compaction POLICY reads — the
    * operational half of q305: after an erasure lands (q304's
    * artifact), how much of the stored log is dead weight? Reported
    * from the log itself: physical delta rows, tombstone rows, live
    * vs fully-erased bigrams, and the dead fraction in ppm — the
    * number an auto-compaction rule thresholds on ("fold the log when
    * dead_ppm > X") instead of compacting on a timer. One log scan +
    * one vocab-sized aggregate; all integers, so the report
    * hash-matches the oracle recomputing the same ledger from the
    * raw corpus.
    */
  def q319_lm_log_health(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q319-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      buildErasedLog(docs, s"$work/lm_index")
      val log = spark.read.parquet(s"$work/lm_index")
      val rows = log.agg(
        count(lit(1)).cast("long").as("n_rows"),
        count(when(col("c_bigram") < 0, 1)).cast("long").as("n_tombstones"))
      val net = log.groupBy("bigram")
        .agg(sum(col("c_bigram")).as("net"))
        .agg(
          count(when(col("net") > 0, 1)).cast("long").as("n_live"),
          count(when(col("net") <= 0, 1)).cast("long").as("n_dead"))
      rows.crossJoin(net)
        .withColumn("dead_ppm",
          expr("(n_dead * 1000000) DIV (n_live + n_dead)"))
    }

  val q319_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH tk AS (
       |  SELECT doc_id, $toks AS t, $lmErasedSql AS er FROM documents),
       |bg AS (
       |  SELECT er,
       |    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bigram
       |  FROM tk WHERE len(t) >= 2),
       |f AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cf FROM bg GROUP BY bigram),
       |e AS (SELECT bigram, CAST(count(*) AS BIGINT) AS ce
       |  FROM bg WHERE er GROUP BY bigram),
       |j AS (SELECT f.bigram, cf, coalesce(ce, 0) AS ce
       |  FROM f LEFT JOIN e USING (bigram))
       |SELECT
       |  (SELECT count(*) FROM f) + (SELECT count(*) FROM e) AS n_rows,
       |  (SELECT count(*) FROM e) AS n_tombstones,
       |  CAST(count(CASE WHEN cf > ce THEN 1 END) AS BIGINT) AS n_live,
       |  CAST(count(CASE WHEN cf <= ce THEN 1 END) AS BIGINT) AS n_dead,
       |  CAST(count(CASE WHEN cf <= ce THEN 1 END) * 1000000
       |    // count(*) AS BIGINT) AS dead_ppm
       |FROM j""".stripMargin
  }

  // ---------- q322: threshold-driven auto-compaction ----------

  /** Compact when more than this fraction (ppm) of the log's physical
    * rows are dead weight — rows merge-on-read discards (tombstones,
    * the positives they cancel, net-zero bigrams). q319's fully-dead
    * vocab fraction measures SEMANTIC death and sits near zero on a
    * mostly-live corpus; the COST a reader pays is physical rows
    * scanned vs live rows materialized, so that is what the policy
    * thresholds on (the classic LSM space-amplification rule).
    */
  val autoCompactThresholdPpm = 250000L

  /** The maintenance entry point q319's report was waiting for: fold
    * the delta log IFF its waste fraction exceeds the threshold,
    * else leave it untouched (compacting a healthy log is pure write
    * amplification). Returns (waste_ppm read from the log, whether
    * compaction ran, the path readers should now use). The decision
    * is ONE 1-row aggregate collect — the driver-side policy act, not
    * a data move.
    */
  private[queries] def maintainLog(
      spark: SparkSession, logPath: String, thresholdPpm: Long): (Long, Boolean, String) = {
    val log = spark.read.parquet(logPath)
    val wastePpm = log
      .agg(count(lit(1)).cast("long").as("n_rows"))
      .crossJoin(mergedCounts(spark, logPath)
        .agg(count(lit(1)).cast("long").as("n_live")))
      .select(expr("((n_rows - n_live) * 1000000) DIV n_rows"))
      .head().getLong(0)
    if (wastePpm > thresholdPpm) {
      mergedCounts(spark, logPath).write.parquet(s"${logPath}_v1")
      (wastePpm, true, s"${logPath}_v1")
    } else (wastePpm, false, logPath)
  }

  /** q322: AUTO-COMPACTION — the operator that ACTS on the log-health
    * ledger (round-16 verdict #3: "q319 reports dead_ppm but nothing
    * consumes it"). Two logs drive BOTH policy branches in one
    * oracle-gated report: the erasure-bearing log (q304's fixture —
    * ~half its physical rows are tombstones or their cancelled
    * positives, far past the threshold) gets folded; a clean
    * freshly-built log (zero waste) is left byte-for-byte alone. Per
    * leg the report carries the before-ledger, the decision, and the
    * after-state read back from whichever artifact the policy chose —
    * all exact integers, so the DuckDB oracle recomputes the whole
    * policy from the raw corpus and the hash splits if the engine
    * ever compacts the wrong branch (or reports a state it didn't
    * produce).
    *
    * Scale shape: the decision is a 1-row aggregate; compaction is
    * q305's one vocab-bounded fold; nothing touches the corpus.
    */
  def q322_lm_auto_compact(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q322-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      buildErasedLog(docs, s"$work/log_erased")
      countsOf(docs).write.parquet(s"$work/log_clean")
      Seq("erased" -> s"$work/log_erased", "clean" -> s"$work/log_clean")
        .map { case (leg, path) =>
          val before = spark.read.parquet(path).agg(
            count(lit(1)).cast("long").as("n_rows_before"),
            count(when(col("c_bigram") < 0, 1)).cast("long")
              .as("n_tombstones"))
          val (wastePpm, compacted, readPath) = maintainLog(
            spark, path, autoCompactThresholdPpm)
          val after = spark.read.parquet(readPath).agg(
            count(lit(1)).cast("long").as("n_rows_after"))
          val merged = mergedCounts(spark, readPath).agg(
            count(lit(1)).cast("long").as("n_live"),
            coalesce(sum(col("c_bigram")), lit(0L)).cast("long").as("c_total"))
          before
            .withColumn("leg", lit(leg))
            .withColumn("waste_ppm", lit(wastePpm))
            .withColumn("compacted", lit(if (compacted) 1L else 0L))
            .crossJoin(after).crossJoin(merged)
            .select("leg", "n_rows_before", "n_tombstones", "waste_ppm",
              "compacted", "n_rows_after", "n_live", "c_total")
        }
        .reduce(_ unionByName _)
        .orderBy("leg")
    }

  /** The policy recomputed from the raw corpus: per leg, the ledger
    * q319 derives, the threshold decision, and the after-state the
    * decision implies. */
  val q322_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH tk AS (
       |  SELECT doc_id, $toks AS t, $lmErasedSql AS er FROM documents),
       |bg AS (
       |  SELECT er,
       |    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bigram
       |  FROM tk WHERE len(t) >= 2),
       |f AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cf FROM bg GROUP BY bigram),
       |e AS (SELECT bigram, CAST(count(*) AS BIGINT) AS ce
       |  FROM bg WHERE er GROUP BY bigram),
       |j AS (SELECT f.bigram, cf, coalesce(ce, 0) AS ce
       |  FROM f LEFT JOIN e USING (bigram)),
       |er_stats AS (
       |  SELECT
       |    (SELECT count(*) FROM f) + (SELECT count(*) FROM e) AS n_rows_before,
       |    (SELECT count(*) FROM e) AS n_tombstones,
       |    CAST(count(CASE WHEN cf > ce THEN 1 END) AS BIGINT) AS n_live,
       |    CAST(coalesce(sum(CASE WHEN cf > ce THEN cf - ce END), 0) AS BIGINT)
       |      AS c_total
       |  FROM j),
       |cl_stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows_before,
       |    CAST(0 AS BIGINT) AS n_tombstones,
       |    CAST(count(*) AS BIGINT) AS n_live,
       |    CAST(coalesce(sum(cf), 0) AS BIGINT) AS c_total
       |  FROM f),
       |legs AS (
       |  SELECT 'erased' AS leg, * FROM er_stats
       |  UNION ALL SELECT 'clean' AS leg, * FROM cl_stats),
       |decided AS (
       |  SELECT leg, n_rows_before, n_tombstones,
       |    ((n_rows_before - n_live) * 1000000) // n_rows_before AS waste_ppm,
       |    CASE WHEN ((n_rows_before - n_live) * 1000000) // n_rows_before
       |      > $autoCompactThresholdPpm THEN 1 ELSE 0 END AS compacted,
       |    n_live, c_total
       |  FROM legs)
       |SELECT leg, n_rows_before, n_tombstones, waste_ppm,
       |  CAST(compacted AS BIGINT) AS compacted,
       |  CASE WHEN compacted = 1 THEN n_live ELSE n_rows_before END
       |    AS n_rows_after,
       |  n_live, c_total
       |FROM decided ORDER BY leg""".stripMargin
  }

  /** In-place fold for an ONGOING [[graft.io.BatchLog]]: when waste
    * crosses the threshold, materialize the merged counts as the
    * log's next GENERATION and publish it with the marker protocol
    * ([[graft.io.BatchLog.fold]]) — write-then-publish, never
    * delete-then-rename, so a crash mid-fold leaves the old
    * generation intact and a post-fold replay of an absorbed batch is
    * a no-op. Returns whether the policy fired.
    */
  private[queries] def maintainLogFold(
      spark: SparkSession, logRoot: String, thresholdPpm: Long): Boolean = {
    val log = graft.io.BatchLog.read(spark, logRoot)
    val wastePpm = log
      .agg(count(lit(1)).cast("long").as("n_rows"))
      .crossJoin(merged(log).agg(count(lit(1)).cast("long").as("n_live")))
      .select(expr("((n_rows - n_live) * 1000000) DIV n_rows"))
      .head().getLong(0)
    if (wastePpm > thresholdPpm) {
      graft.io.BatchLog.fold(spark, logRoot)(merged)
      true
    } else false
  }

  /** q325's flow against a caller-owned work dir, returning the final
    * retained-corpus scoring AND how many times the policy folded the
    * log mid-stream (the spec pins ≥ 1 — the composition claim is
    * empty if the threshold never fires).
    */
  private[queries] def q325Flow(
      spark: SparkSession, dir: String, work: String): (DataFrame, Int) = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val half =
      substring(md5(concat(lit("sb|"), col("doc_id").cast("string"))), 1, 1) < "8"
    val erasedHalf =
      substring(md5(concat(lit("sb2|"), col("doc_id").cast("string"))), 1, 1) < "8"
    FileFeed.write(s"$work/incoming", Seq(
      "b0" -> docs.filter(half).withColumn("feed", lit("ingest")),
      "b1" -> docs.filter(!half).withColumn("feed", lit("ingest")),
      "b2" -> docs.filter(lmErased && erasedHalf).withColumn("feed", lit("erase")),
      "b3" -> docs.filter(lmErased && !erasedHalf).withColumn("feed", lit("erase"))))
    // incremented on the stream-execution thread, read on the caller
    // thread after drain returns — atomic for a sound happens-before
    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    FileFeed.drain(spark, s"$work/incoming",
        docs.withColumn("feed", lit("")).schema, s"$work/ckpt")(
      _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ing = countsOf(batch.filter(col("feed") === "ingest"))
        val era = countsOf(batch.filter(col("feed") === "erase"))
          .withColumn("c_bigram", -col("c_bigram"))
        graft.io.BatchLog.append(
          ing.unionByName(era), s"$work/lm_index", batchId)
        if (maintainLogFold(spark, s"$work/lm_index",
          autoCompactThresholdPpm)) folds.incrementAndGet()
        ()
      })
    (scoreWithCounts(docs.filter(!lmErased),
      mergedLog(spark, s"$work/lm_index")).orderBy("doc_id"), folds.get())
  }

  /** q325: the FULL LSM loop inside one stream — ingest micro-batches
    * and right-to-be-forgotten micro-batches interleave against ONE
    * stored log, and q322's threshold policy runs after EVERY batch,
    * folding the log in place whenever waste crosses the constant
    * (the halves share most of the vocabulary, so the second ingest
    * batch alone pushes waste past it — the fold genuinely fires
    * mid-stream, more than once). Scoring the retained corpus from
    * whatever representation the policy left behind must equal a
    * from-scratch rebuild on the retained docs: q304's oracle
    * verbatim. This closes the round-16 maintenance story: ingest
    * (q309), erasure (q318), and now COMPACTION all run inside the
    * stream, against one artifact, hash-gated end to end.
    *
    * Scale shape: per micro-batch, one batch-sized count delta + the
    * policy's 1-row decision; a fold is one vocab-bounded rewrite —
    * amortized exactly as an LSM store amortizes it.
    */
  def q325_stream_lm_maintain(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q325-")(q325Flow(spark, dir, _)._1)

  /** Rebuild-on-retained, q304's oracle verbatim. */
  val q325_oracle: String = q304_oracle

  // ---------- q114: collocation mining (integer-exact lift) ----------

  /** Collocation extraction — the corpus-analysis twin of q104's
    * fluency score: find bigrams that co-occur far more often than
    * their unigrams predict. The textbook statistic is PMI =
    * log P(ab)/(P(a)P(b)); the log is monotone, so ranking by the
    * LIFT ratio inside it gives the identical ordering with NO
    * floating point: lift_micro = (c(ab) · N · 10⁶) DIV
    * (c(a) · c(b)) where N is the corpus token count — every factor
    * an exact integer (wide products ride decimal(38,0)), every value
    * independent of aggregation order.
    *
    * Scale shape: one exploded-corpus pass for unigram counts, one
    * for bigram counts (both partial-agg shuffles to vocab-sized
    * tables); the lift join runs vocab-against-vocab — corpus text
    * is never joined. Minimum-count floor 5 is the standard
    * collocation guard (rare pairs have unstable lift and would
    * dominate any top-k).
    */
  val collocationMinCount = 5L
  val collocationTopK = 50

  def q114_collocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(explode(lmTokens(col("text"))).as("w"))
    // persisted because it is read twice (N derivation + both lift
    // joins) and is vocab-sized; N comes from the count table, not a
    // second corpus pass
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("long").as("c_uni")).persist()
    val nToks = uni.agg(coalesce(sum(col("c_uni")), lit(0L))).head.getLong(0)
    val bg = bigrams(docs)
      .groupBy("bigram").agg(count(lit(1)).cast("long").as("c_bigram"))
      .filter(col("c_bigram") >= collocationMinCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val lift = bg
      .join(uni.select(col("w").as("w1"), col("c_uni").as("c_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c_uni").as("c_w2")), "w2")
      // DIV (IntegralDivide) on decimal operands is an exact integer
      // quotient — the q104 rule widened past long range (c·N·10⁶
      // overflows bigint, so the products ride decimal(38,0))
      .withColumn("lift_micro", expr(
        s"(CAST(c_bigram AS DECIMAL(38,0)) * CAST($nToks AS DECIMAL(38,0)) * $scale) " +
          s"DIV (CAST(c_w1 AS DECIMAL(38,0)) * c_w2)"))
    try
      lift
        .orderBy(col("lift_micro").desc, col("bigram").asc)
        .limit(collocationTopK)
        .select("bigram", "c_bigram", "c_w1", "c_w2", "lift_micro")
        // eager: the 50-row result survives the unpersist below
        .transform(graft.Lineage.cut)
    finally uni.unpersist()
  }

  val q114_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH tk AS (
       |  SELECT doc_id, $toks AS t FROM documents),
       |uni AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c_uni
       |  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
       |n AS (SELECT CAST(sum(c_uni) AS HUGEINT) AS n_toks FROM uni),
       |bg AS (
       |  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bigram
       |  FROM (
       |    SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bigram
       |    FROM tk WHERE len(t) >= 2)
       |  GROUP BY bigram HAVING count(*) >= $collocationMinCount)
       |SELECT bigram, c_bigram,
       |  u1.c_uni AS c_w1, u2.c_uni AS c_w2,
       |  CAST(CAST(c_bigram AS HUGEINT) * n.n_toks * $scale
       |    // (CAST(u1.c_uni AS HUGEINT) * u2.c_uni) AS BIGINT) AS lift_micro
       |FROM bg, n
       |JOIN uni u1 ON u1.w = split_part(bigram, ' ', 1)
       |JOIN uni u2 ON u2.w = split_part(bigram, ' ', 2)
       |ORDER BY lift_micro DESC, bigram ASC
       |LIMIT $collocationTopK""".stripMargin
  }

  // ---------- q126: windowed skip-gram co-occurrence ----------

  /** Skip-gram window: each token pairs with the next [[skipWindow]]
    * tokens (the word2vec/GloVe co-occurrence convention, unordered
    * pairs canonicalized lexicographically).
    */
  val skipWindow = 3

  /** Windowed co-occurrence lift — q114 widened from adjacent bigrams
    * to the ±[[skipWindow]] skip-gram window: the statistic embedding
    * pretraining (word2vec negative sampling, GloVe weighting) is
    * built on. Unordered pairs inside the window are counted corpus-
    * wide and ranked by integer-exact lift against the independence
    * baseline under PAIR sampling:
    * lift_micro = (c_pair · N_tok² · 10⁶) DIV (N_pairs · c_a · c_b)
    * — every factor an exact integer, wide products on decimal(38,0)
    * (the q114 rule), so ranking and values hash-match the oracle.
    *
    * Scale shape: pair generation is a narrow per-document map
    * (window size bounds fanout at [[skipWindow]] per token — NEVER
    * quadratic in document length); pair counts are one partial-agg
    * shuffle to a vocab²-bounded (window-limited) table; the lift
    * joins are vocab-sized. The corpus text streams exactly once per
    * counting pass.
    */
  def q126_skipgram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(explode(lmTokens(col("text"))).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("long").as("c_uni")).persist()
    val nToks = uni.agg(coalesce(sum(col("c_uni")), lit(0L))).head.getLong(0)
    val pairs = docs
      .select(lmTokens(col("text")).as("t"))
      .select(explode(flatten(
        transform(col("t"), (x, i) =>
          transform(slice(col("t"), i + lit(2), lit(skipWindow)),
            y => concat(least(x, y), lit(" "), greatest(x, y)))))).as("pair"))
    val pc = pairs.groupBy("pair")
      .agg(count(lit(1)).cast("long").as("c_pair"))
      .persist()
    val nPairs = pc.agg(coalesce(sum(col("c_pair")), lit(0L))).head.getLong(0)
    val lift = pc
      .filter(col("c_pair") >= collocationMinCount)
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .withColumn("w2", split(col("pair"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("c_uni").as("c_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c_uni").as("c_w2")), "w2")
      .withColumn("lift_micro", expr(
        s"(CAST(c_pair AS DECIMAL(38,0)) * CAST($nToks AS DECIMAL(38,0)) " +
          s"* CAST($nToks AS DECIMAL(38,0)) * $scale) " +
          s"DIV (CAST($nPairs AS DECIMAL(38,0)) * c_w1 * c_w2)"))
    try
      lift
        .orderBy(col("lift_micro").desc, col("pair").asc)
        .limit(collocationTopK)
        .select("pair", "c_pair", "c_w1", "c_w2", "lift_micro")
        .transform(graft.Lineage.cut) // eager: survives the unpersists
    finally { uni.unpersist(); pc.unpersist() }
  }

  val q126_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH tk AS (
       |  SELECT doc_id, $toks AS t FROM documents),
       |uni AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c_uni
       |  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
       |n AS (SELECT CAST(sum(c_uni) AS HUGEINT) AS n_toks FROM uni),
       |pc AS (
       |  SELECT pair, CAST(count(*) AS BIGINT) AS c_pair
       |  FROM (
       |    SELECT unnest(flatten(
       |      [[least(t[i], t[j]) || ' ' || greatest(t[i], t[j])
       |        for j in range(i + 1, least(i + $skipWindow, len(t)) + 1)]
       |       for i in range(1, len(t) + 1)])) AS pair
       |    FROM tk)
       |  GROUP BY pair),
       |np AS (SELECT CAST(sum(c_pair) AS HUGEINT) AS n_pairs FROM pc)
       |SELECT pair, c_pair,
       |  u1.c_uni AS c_w1, u2.c_uni AS c_w2,
       |  CAST(CAST(c_pair AS HUGEINT) * n.n_toks * n.n_toks * $scale
       |    // (np.n_pairs * CAST(u1.c_uni AS HUGEINT) * u2.c_uni) AS BIGINT)
       |    AS lift_micro
       |FROM pc, n, np
       |JOIN uni u1 ON u1.w = split_part(pair, ' ', 1)
       |JOIN uni u2 ON u2.w = split_part(pair, ' ', 2)
       |WHERE c_pair >= $collocationMinCount
       |ORDER BY lift_micro DESC, pair ASC
       |LIMIT $collocationTopK""".stripMargin
  }

  // ---------- q134: per-language fluency tertiles (CCNet buckets) ----------

  /** CCNet's head/middle/tail partitioning: score every document with
    * the q104 bigram LM, then split EACH LANGUAGE into fluency
    * tertiles — head (most fluent third) feeds pretraining first,
    * tail is the low-quality remainder. Ranking is total-ordered by
    * (fluency desc, doc_id asc), so NTILE(3) is deterministic and the
    * bucket assignment hash-matches the oracle; the output pins exact
    * bucket MEMBERSHIP per (lang, bucket) via doc_id sum (the q105
    * rule) without emitting per-doc rows.
    *
    * Scale shape: scoring is q104's two corpus shuffles; the tertile
    * pass is [[graft.operators.RangeRank]] — per-lang ranks via
    * sample-boundary buckets + broadcast offsets, so each window
    * partition is (lang, bucket)-sized, never a whole language in one
    * task (docs carry only (id, lang, score) — 24 bytes/row into the
    * sort) — and the rollup collapses to 3 rows per language. At 100 TB the same
    * split is usually approximated by percentile boundaries from a
    * quantile sketch (the q113 KLL state) — exact NTILE is chosen
    * here because the oracle can check it bit-for-bit; swapping the
    * boundary source changes no downstream shape.
    */
  def q134_perplexity_buckets(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val docs = Tables.load(spark, dir, "documents")
    val scored = scoreDocs(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
    RangeRank.rank(scored, Seq("lang"),
        Seq(RangeRank.Key("fluency_micro", desc = true), RangeRank.Key("doc_id")),
        "__rnk", "__n")
      .withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          RangeRank.ntileFromRank("__rnk", "__n", 3)))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("fluency_micro")).as("fluency_min"),
        max(col("fluency_micro")).as("fluency_max"),
        sum(col("doc_id")).cast("long").as("doc_id_sum"))
      .orderBy("lang", "bucket")
  }

  val q134_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH tk AS (
       |  SELECT doc_id, source, $toks AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, source,
       |    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bigram
       |  FROM tk WHERE len(t) >= 2),
       |counts AS (
       |  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bigram
       |  FROM bg GROUP BY bigram),
       |stats AS (
       |  SELECT bigram, c_bigram,
       |    CAST(sum(c_bigram) OVER (
       |      PARTITION BY split_part(bigram, ' ', 1)) AS BIGINT) AS c_prefix
       |  FROM counts),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(sum((c_bigram * $scale) // c_prefix) // count(*) AS BIGINT)
       |      AS fluency_micro
       |  FROM bg JOIN stats USING (bigram)
       |  GROUP BY doc_id),
       |bucketed AS (
       |  SELECT s.doc_id, d.lang, s.fluency_micro,
       |    (['head', 'middle', 'tail'])[NTILE(3) OVER (
       |      PARTITION BY d.lang
       |      ORDER BY s.fluency_micro DESC, s.doc_id ASC)] AS bucket
       |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id)
       |SELECT lang, bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  min(fluency_micro) AS fluency_min,
       |  max(fluency_micro) AS fluency_max,
       |  CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
       |FROM bucketed
       |GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin
  }

  // ---------- q215: Kneser–Ney smoothed bigram model ----------

  /** Absolute discount as an exact rational: d = 3/4 — the classic KN
    * default, chosen so every probability is a one-division integer
    * quotient (no Good–Turing float estimation). */
  val knTopK = 50

  /** Interpolated Kneser–Ney bigram model table (Kneser & Ney 1995;
    * Chen & Goodman 1999 interpolated form) — the smoothing actually
    * used by KenLM-style corpus-quality models, where q104's raw ML
    * conditional assigns zero mass to unseen continuations:
    *
    *   P(w2|w1) = (c(w1w2) − d)/c(w1·)
    *            + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    *
    * with d = 3/4. Over a common denominator 4·c(w1·)·N1+(··) the
    * whole expression is ONE exact integer quotient:
    *   p_micro = ((4·c12 − 3)·n_types + 3·n_follow·n_prec) · 10⁶
    *             DIV (4·c1·n_types)
    * (c12 ≥ 1 makes the discounted term always positive, so the max
    * with 0 vanishes). Output: the [[knTopK]] most frequent bigrams
    * with their count statistics and exact KN probability — the model
    * rows a scorer would join against.
    *
    * Scale shape: all statistics are vocabulary-bounded aggregates of
    * the bigram-count table (c1/n_follow by w1, n_prec by w2 — two
    * vocab-keyed shuffles, never a second corpus pass; n_types is a
    * 1-row aggregate cross-joined in). Top-k rides TakeOrdered
    * (orderBy+limit), THEN the rank window over k rows only.
    */
  def q215_kneser_ney(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val counts = bigrams(Tables.load(spark, dir, "documents"))
      .groupBy("bigram").agg(count(lit(1)).cast("long").as("c12"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .transform(graft.Lineage.cut) // four vocab-sized readers below
    val w1s = counts.groupBy("w1")
      .agg(sum(col("c12")).cast("long").as("c1"),
        count(lit(1)).cast("long").as("n_follow"))
    val w2s = counts.groupBy("w2")
      .agg(count(lit(1)).cast("long").as("n_prec"))
    val nt = counts.agg(count(lit(1)).cast("long").as("n_types"))
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("c12").desc, col("bigram").asc)
    counts
      .orderBy(col("c12").desc, col("bigram").asc)
      .limit(knTopK)
      // rank BEFORE the stat joins: the window then provably runs over
      // the LIMIT-bounded 50 rows (the q173 TakeOrdered-then-rank rule)
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .join(w1s, "w1")
      .join(w2s, "w2")
      .crossJoin(broadcast(nt))
      .withColumn("p_kn_micro", expr(
        s"""CAST((CAST(4*c12 - 3 AS $dec38) * n_types
           | + CAST(3 AS $dec38) * n_follow * n_prec) * 1000000
           | DIV (CAST(4 AS $dec38) * c1 * n_types) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .select("rk", "w1", "w2", "c12", "c1", "n_follow", "n_prec", "p_kn_micro")
      .orderBy("rk")
  }

  /** DuckDB twin. HUGEINT (not DECIMAL) for the probability quotient:
    * DuckDB's DECIMAL `//` rounds the quotient to scale before
    * flooring; HUGEINT `//` is a true integer floor, matching Spark's
    * DECIMAL(38,0) DIV truncation. */
  val q215_oracle: String = {
    val toks = T.tokensSql("lower(text)")
    s"""WITH tk AS (
       |  SELECT doc_id, $toks AS t FROM documents),
       |bg AS (
       |  SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))])
       |    AS bigram
       |  FROM tk WHERE len(t) >= 2),
       |counts AS (
       |  SELECT bigram, CAST(count(*) AS BIGINT) AS c12,
       |    split_part(bigram, ' ', 1) AS w1,
       |    split_part(bigram, ' ', 2) AS w2
       |  FROM bg GROUP BY bigram),
       |w1s AS (
       |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n_follow
       |  FROM counts GROUP BY w1),
       |w2s AS (
       |  SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
       |  FROM counts GROUP BY w2),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM counts),
       |top AS (
       |  SELECT bigram, c12, w1, w2 FROM counts
       |  ORDER BY c12 DESC, bigram LIMIT $knTopK)
       |SELECT
       |  CAST(row_number() OVER (ORDER BY c12 DESC, bigram) AS BIGINT) AS rk,
       |  w1, w2, c12, c1, n_follow, n_prec,
       |  CAST((CAST(4*c12 - 3 AS HUGEINT) * n_types
       |    + CAST(3 AS HUGEINT) * n_follow * n_prec) * 1000000
       |    // (CAST(4 AS HUGEINT) * c1 * n_types) AS BIGINT)
       |    AS p_kn_micro
       |FROM top JOIN w1s USING (w1) JOIN w2s USING (w2) CROSS JOIN nt
       |ORDER BY rk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q134_perplexity_buckets" -> (q134_perplexity_buckets _),
    "q104_bigram_lm" -> (q104_bigram_lm _),
    "q114_collocations" -> (q114_collocations _),
    "q126_skipgram" -> (q126_skipgram _),
    "q215_kneser_ney" -> (q215_kneser_ney _),
    "q302_lm_index_persist" -> (q302_lm_index_persist _),
    "q303_lm_index_update" -> (q303_lm_index_update _),
    "q304_lm_index_erasure" -> (q304_lm_index_erasure _),
    "q305_lm_index_compact" -> (q305_lm_index_compact _),
    "q309_stream_lm_ingest" -> (q309_stream_lm_ingest _),
    "q318_stream_lm_erasure" -> (q318_stream_lm_erasure _),
    "q319_lm_log_health" -> (q319_lm_log_health _),
    "q322_lm_auto_compact" -> (q322_lm_auto_compact _),
    "q325_stream_lm_maintain" -> (q325_stream_lm_maintain _))

  val oracles: Map[String, String] = Map(
    "q134_perplexity_buckets" -> q134_oracle,
    "q104_bigram_lm" -> q104_oracle,
    "q114_collocations" -> q114_oracle,
    "q126_skipgram" -> q126_oracle,
    "q215_kneser_ney" -> q215_oracle,
    "q302_lm_index_persist" -> q302_oracle,
    "q303_lm_index_update" -> q303_oracle,
    "q304_lm_index_erasure" -> q304_oracle,
    "q305_lm_index_compact" -> q305_oracle,
    "q309_stream_lm_ingest" -> q309_oracle,
    "q318_stream_lm_erasure" -> q318_oracle,
    "q319_lm_log_health" -> q319_oracle,
    "q322_lm_auto_compact" -> q322_oracle,
    "q325_stream_lm_maintain" -> q325_oracle)
}
