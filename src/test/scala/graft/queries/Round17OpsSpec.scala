package graft.queries

import graft.SparkSpec

/** Round-17 pins: streamed index ingest for the two VECTOR families
  * must be a pure transport change — the drained stream's merged
  * artifact searches exactly like the batch append leg it lowers
  * (both run the same frozen models over the same b73| split, so the
  * equality is deterministic, not approximate).
  */
class Round17OpsSpec extends SparkSpec {

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("q320: streamed IVF ingest equals the batch append leg row for row") {
    val dir = sf("sf0.001")
    assert(sameRows(VectorQueries.q320_stream_ivf_ingest(spark, dir),
      VectorQueries.q227_ivf_index_update(spark, dir)),
      "stream-ingested inverted file diverged from the batch append")
  }

  test("q321: streamed PQ ingest equals the batch append leg row for row") {
    val dir = sf("sf0.001")
    assert(sameRows(VectorQueries.q321_stream_pq_ingest(spark, dir),
      VectorQueries.q296_pq_index_update(spark, dir)),
      "stream-encoded code table diverged from the batch append")
  }

  test("q322: the policy compacts the wasteful log, leaves the clean one, and the folded artifact scores like always-compact") {
    val dir = sf("sf0.001")
    val rows = LanguageModel.q322_lm_auto_compact(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val er = rows("erased"); val cl = rows("clean")
    assert(er.getLong(er.fieldIndex("compacted")) === 1L,
      "the tombstone-heavy log was not compacted")
    assert(cl.getLong(cl.fieldIndex("compacted")) === 0L,
      "the clean log was compacted — pure write amplification")
    // no-op branch: the log is physically untouched
    assert(cl.getLong(cl.fieldIndex("n_rows_after")) ===
      cl.getLong(cl.fieldIndex("n_rows_before")))
    // compact branch: the artifact holds exactly the live bigrams
    assert(er.getLong(er.fieldIndex("n_rows_after")) ===
      er.getLong(er.fieldIndex("n_live")))
    assert(er.getLong(er.fieldIndex("n_rows_after")) <
      er.getLong(er.fieldIndex("n_rows_before")))
  }

  test("q323: the mixed-dedup funnel equals an independently hand-composed stage stack") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.01")
    val docs = graft.Tables.load(spark, dir, "documents")
    val base = docs.withColumn("n_toks",
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
    val exactKeep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("k1"))
    val nearDrop = graft.operators.ConnectedComponents.run(
      TextQueries.lshPairs(spark, dir).select("a_id", "b_id"), "a_id", "b_id")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"), lit(1).as("d2"))
    val semDrop = VectorQueries.q87_semdedup(spark, dir)
      .select(col("dup_id").as("doc_id"), lit(1).as("d3"))
    val staged = base
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .join(semDrop, Seq("doc_id"), "left")
      .withColumn("s1", col("k1").isNotNull)
      .withColumn("s2", col("s1") && col("d2").isNull)
      .withColumn("s3", col("s2") && col("d3").isNull)
      .withColumn("s4", col("s3") && !(col("n_toks") < 10))
    val expected = staged.groupBy("source").agg(
      count(lit(1)).as("n_raw"),
      count(when(col("s1"), 1)).as("n_exact"),
      count(when(col("s2"), 1)).as("n_neardup"),
      count(when(col("s3"), 1)).as("n_semdup"),
      count(when(col("s4"), 1)).as("n_quality"),
      sum(when(col("s4"), col("n_toks")).otherwise(0L)).as("tokens_final"))
    val got = CurationFlow.q323_declared_semantic(spark, dir)
    assert(sameRows(got, expected),
      "declared mixed-dedup funnel diverged from the hand-composed stack")
    val sums = got.agg(
      sum(col("n_neardup")).cast("long"), sum(col("n_semdup")).cast("long"))
      .head()
    assert(sums.getLong(1) < sums.getLong(0),
      "no document was dropped by dedup_semantic — the stage is inert")
  }

  test("dedup_semantic missing-policy: keep passes unembedded rows, drop removes exactly them; oracleSql refuses the render") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.1") // 5000 docs, 2000 embeddings: 3000 unembedded
    def cfg(missing: String) = graft.meta.Metadata.parseCuration(
      s"""{"curation": {"table": "documents", "id_column": "doc_id",
         |  "text_column": "text", "report_by": "source", "stages": [
         |  {"type": "dedup_semantic", "name": "sem", "missing": "$missing"}]}}"""
        .stripMargin)
    def survivors(missing: String): Long =
      CurationFlow.run(spark, dir, cfg(missing))
        .agg(sum(col("n_sem")).cast("long")).head().getLong(0)
    val docs = graft.Tables.load(spark, dir, "documents").select("doc_id")
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"))
    val unembedded = docs.join(emb, Seq("doc_id"), "left_anti").count()
    assert(unembedded > 0, "degenerate fixture: every document embedded")
    assert(survivors("keep") - survivors("drop") === unembedded,
      "keep-vs-drop delta is not exactly the unembedded document count")
    val ex = intercept[graft.meta.MetadataError](
      CurationFlow.oracleSql(cfg("keep")))
    assert(ex.getMessage.contains("dedup_semantic"),
      "oracleSql rendered a config it cannot express")
  }

  test("q324: the BM25 policy folds under the accumulated feed, leaves the clean index, and the folded bytes hold no erased doc") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val work = graft.io.Scratch.dir(spark, "graft-q324spec-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val rows = RetrievalQueries.q324Flow(spark, dir, work)
        .collect().map(r => r.getString(0) -> r).toMap
      val er = rows("erased"); val cl = rows("clean")
      assert(er.getLong(er.fieldIndex("compacted")) === 1L &&
        cl.getLong(cl.fieldIndex("compacted")) === 0L,
        "policy picked the wrong branch")
      assert(cl.getLong(cl.fieldIndex("n_postings_after")) ===
        cl.getLong(cl.fieldIndex("n_postings")))
      assert(er.getLong(er.fieldIndex("n_postings_after")) ===
        er.getLong(er.fieldIndex("n_postings")) -
          er.getLong(er.fieldIndex("n_tomb_rows")))
      // the erased docs are genuinely gone from the folded bytes
      assert(!fs.exists(new Path(s"$work/postings_clean_v1")),
        "the clean branch wrote a new version anyway")
      val survivors = spark.read.parquet(s"$work/postings_erased_v1")
        .filter(RetrievalQueries.bm25AcErased(col("doc_id")))
      assert(survivors.isEmpty, "a tombstoned doc survived compaction")
    } finally fs.delete(new Path(work), true)
  }

  test("q325: ingest + erasure + in-stream compaction equals rebuild-on-retained, and the fold genuinely fires") {
    import org.apache.hadoop.fs.Path
    val dir = sf("sf0.001")
    val work = graft.io.Scratch.dir(spark, "graft-q325spec-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val (scored, folds) = LanguageModel.q325Flow(spark, dir, work)
      assert(folds >= 1,
        "the threshold policy never folded the log — the composition is untested")
      assert(sameRows(scored, LanguageModel.q304_lm_index_erasure(spark, dir)),
        "the maintained log scored differently from the batch erasure leg")
    } finally fs.delete(new Path(work), true)
  }

  test("maintainLog: the chosen artifact always scores like the always-compact leg; below threshold nothing is written") {
    import org.apache.hadoop.fs.Path
    val dir = sf("sf0.001")
    val work = graft.io.Scratch.dir(spark, "graft-q322spec-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val docs = graft.Tables.load(spark, dir, "documents")
      LanguageModel.countsOf(docs).write.parquet(s"$work/clean")
      val (waste, compacted, path) = LanguageModel.maintainLog(
        spark, s"$work/clean", LanguageModel.autoCompactThresholdPpm)
      assert(waste === 0L && !compacted && path === s"$work/clean")
      assert(!fs.exists(new Path(s"$work/clean_v1")),
        "no-op branch wrote an artifact anyway")
      // the decisive branch is covered by q322's oracle; here pin that
      // a compacted artifact is a pure representation change: fold a
      // zero-waste log by force and the merged view is identical
      val before = LanguageModel.countsOf(docs).collect().toSet
      val (_, forced, v1) = LanguageModel.maintainLog(spark, s"$work/clean", -1L)
      assert(forced && v1 === s"$work/clean_v1")
      assert(spark.read.parquet(v1).collect().toSet === before,
        "compaction changed the merged counts")
    } finally fs.delete(new Path(work), true)
  }
}
