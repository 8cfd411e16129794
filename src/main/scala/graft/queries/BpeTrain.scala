package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.io.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge-table training (round 6) — the tokenizer-construction
  * step between q35's vocabulary statistics and q19/q63/q77's token
  * accounting: learn the first R byte-pair-encoding merges from the
  * corpus (Sennrich et al. 2016, arXiv:1508.07909).
  *
  * Scale shape — the reason BPE training is feasible at 100 TB: the
  * corpus is scanned ONCE to build the word-frequency table (rows =
  * distinct words, not corpus tokens), a bounded top-[[bpeVocabCap]]
  * of it is collected (the standard trainer truncation knob), and
  * the merge loop runs locally on that weighted vocabulary — the
  * same bounded-sample-then-local-iterate shape as IvfIndex's
  * Lloyd's, because a distributed loop pays two scheduled jobs per
  * round to do milliseconds of vocab-sized arithmetic.
  *
  * Iterative argmax-per-round is not expressible as one SQL statement
  * (aggregation inside recursion), so the driver check is rows-only —
  * same rationale as q42/q87; BpeTrainSpec pins round-1's argmax
  * against an independent recomputation, the non-increasing
  * pair-count invariant, and cross-run determinism.
  */
object BpeTrain extends graft.QueryFamily {

  val bpeMerges = 10

  /** Leftmost-first non-overlapping merge of the adjacent pair (a,b)
    * — the standard BPE apply rule.
    */
  private[queries] def mergePair(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** The weighted vocabulary: (word, corpus frequency). */
  private[queries] def wordFreq(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Initial symbolization: one symbol per Unicode CODE POINT.
    * `w.map(_.toString)` would split UTF-16 surrogate pairs, turning
    * any supplementary character (emoji, rare CJK) into two invalid
    * lone-surrogate symbols no BPE scheme would ever produce.
    */
  private[queries] def symbolize(w: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** The learned merge table, trained once per corpus dir and shared
    * by q92 (which REPORTS it) and q93 (which APPLIES it) — the
    * train-once/apply-everywhere lifecycle a tokenizer actually has.
    * The table is `bpeMerges` tiny rows, so a driver-side memo is the
    * right storage (the spec pins cross-run determinism, so caching
    * cannot change answers).
    */
  private def trainedMerges(spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    Artifacts.value(spark, "bpe", dir)(train(spark, dir))

  /** Driver-side vocabulary bound for the merge loop — the standard
    * BPE truncation knob (real tokenizer trainers cut by minimum
    * frequency / vocabulary size for exactly this reason): the loop's
    * working set is the top-cap words by (freq desc, word asc), a
    * deterministic top-k the engine computes as a bounded
    * TakeOrdered, never a full-vocab driver sort. At every corpus
    * scale the collect is bounded; on corpora whose vocabulary fits
    * the cap (all test scales) the result is identical to the
    * uncapped loop.
    */
  val bpeVocabCap = 1 << 20

  private[queries] def train(spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    // distributed part: ONE corpus scan to weighted word counts, then
    // a bounded top-k. The merge loop itself runs locally — the
    // vocab table is megabytes, and a distributed loop paid two
    // scheduled jobs per round (pair-count shuffle + argmax collect)
    // to do milliseconds of arithmetic, the same trade as
    // IvfIndex's local Lloyd's.
    var table: Array[(Seq[String], Long)] = wordFreq(spark, dir)
      .orderBy(col("freq").desc, col("w").asc)
      .limit(bpeVocabCap)
      .as[(String, Long)]
      .collect()
      .map { case (w, f) => (symbolize(w), f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 0 until bpeMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      table.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.nonEmpty) {
        // argmax with lexicographic tie-break — explicit comparator,
        // independent of hash-map iteration order
        val ((l, rt), cnt) = counts.reduce { (x, y) =>
          val ((xa, xb), xc) = x
          val ((ya, yb), yc) = y
          if (yc > xc || (yc == xc && (ya < xa || (ya == xa && yb < xb)))) y
          else x
        }
        merges += ((r, l, rt, cnt))
        table = table.map { case (syms, f) => (mergePair(syms, l, rt), f) }
      }
    }
    merges.result()
  }

  /** Learn the first [[bpeMerges]] merges; output one row per merge:
    * (rank, left, right, pair_count), rank in learned order.
    */
  def q92_bpe_train(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir)
      .toDF("rank", "left", "right", "pair_count")
      .orderBy("rank")
  }

  /** Apply the learned merges in rank order to `syms`
    * (leftmost-first per merge — the standard BPE encode loop).
    */
  private[queries] def encode(
      merges: Seq[(String, String)], w: String): Seq[String] =
    merges.foldLeft(symbolize(w)) { case (syms, (a, b)) => mergePair(syms, a, b) }

  /** q93: the APPLY form — encode the corpus with the trained merge
    * table and report the per-source tokenization yield: word count,
    * code-point symbol count before merging, BPE token count after,
    * and the compression ratio a tokenizer evaluation reads.
    *
    * Scale shape: encoding runs on the DISTINCT-WORD vocabulary
    * (vocab-bounded typed map — same argument as training), and the
    * corpus-sized work is one explode + broadcast join of the tiny
    * (word → counts) map + partial-agg rollup by source. Text streams
    * once; merges come from the session's trained table (built by the
    * first of q92/q93 to run).
    *
    * rows-only at the driver like q92 (iterative training has no SQL
    * twin); BpeTrainSpec pins the encode rule on fixed merge tables,
    * full-coverage accounting, and compression >= 1.
    */
  def q93_bpe_apply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = trainedMerges(spark, dir).map { case (_, l, r, _) => (l, r) }
    val wordCost = wordFreq(spark, dir)
      .as[(String, Long)]
      .map { case (w, _) =>
        (w, symbolize(w).length.toLong, encode(merges, w).length.toLong)
      }
      .toDF("w", "n_cp", "n_bpe")
    Tables.load(spark, dir, "documents")
      .select(col("source"), explode(T.tokens(col("text"))).as("w"))
      .join(wordCost, "w")  // vocab-sized cost table: no hint
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_cp")).as("n_symbols"),
        sum(col("n_bpe")).as("n_tokens"))
      .withColumn("compression",
        col("n_symbols").cast("double") / col("n_tokens").cast("double"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q92_bpe_train" -> (q92_bpe_train _),
    "q93_bpe_apply" -> (q93_bpe_apply _))

  /** rows-only on purpose: per-round argmax inside an iterative loop
    * has no single-statement SQL twin; BpeTrainSpec carries the
    * correctness weight for both the trainer and the apply form.
    */
  val oracles: Map[String, String] = Map.empty
}
