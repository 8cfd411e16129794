package graft.queries

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.io.BatchLog

/** Round-18 pins: the streamed index-maintenance family is
  * exactly-once in EFFECT under foreachBatch's at-least-once
  * delivery. The injected failure here is the real one — a
  * micro-batch whose side effect lands but whose checkpoint offset
  * does not, so the restarted stream re-delivers it — and scoring
  * from the drained log must still equal a from-scratch rebuild
  * (BatchLogSpec pins the protocol pieces; this drives the whole
  * stream through a crash).
  */
class Round18OpsSpec extends SparkSpec {

  private def merged(log: DataFrame): DataFrame =
    log.groupBy("bigram")
      .agg(sum(col("c_bigram")).cast("long").as("c_bigram"))
      .filter(col("c_bigram") > 0)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("streamed LM ingest survives a crash-after-append: the replayed micro-batch does not double count") {
    val dir = sf("sf0.001")
    val docs = graft.Tables.load(spark, dir, "documents")
    val work = graft.io.Scratch.dir(spark, "graft-replay18-")
    CurationFlow.stageTwoBatches(spark, work, docs, "doc_id")
    val crashed = new AtomicBoolean(false)
    def drive(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/incoming")
      val q = stream.writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          BatchLog.append(
            LanguageModel.countsOf(batch), s"$work/lm_index", batchId)
          // die AFTER the side effect, BEFORE the checkpoint commit —
          // the restart below re-delivers this exact batch
          if (batchId == 1L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected post-append crash")
          ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .start()
      q.awaitTermination()
    }
    intercept[StreamingQueryException](drive())
    assert(crashed.get(), "the injected crash never fired")
    drive() // restart from the same checkpoint: batch 1 replays
    assert(sameRows(merged(BatchLog.read(spark, s"$work/lm_index")),
      LanguageModel.countsOf(docs)),
      "replayed micro-batch corrupted the merged log vs rebuild")
  }

  test("q335: the streamed media manifest equals the batch q89 run row for row") {
    val dir = sf("sf0.001")
    val streamed = graft.multimodal.Multimodal.q335_stream_media_manifest(spark, dir)
    val batch = graft.multimodal.Multimodal.q89_frame_sample(spark, dir)
    assert(sameRows(streamed, batch),
      "streamed manifest diverged from the batch frame-sample run")
    assert(batch.count() > 0, "empty manifest proves nothing")
  }

  test("q327: the mask pre-pass genuinely rewrites what every downstream stage reads") {
    import graft.meta.{Metadata, MaskStageDef}
    val dir = sf("sf0.01")
    val cur = Metadata.parseCuration(CurationFlow.maskedCurationJson)
    val masked = CurationFlow.run(spark, dir, cur)
    // same funnel with the scrub removed: content hashes, quality
    // metrics, shingles and budget weights all shift — if the two
    // reports agree, the stage is decorative
    val unmasked = CurationFlow.run(spark, dir,
      cur.copy(stages = cur.stages.filterNot(_.isInstanceOf[MaskStageDef])))
    assert(masked.drop("n_scrub_entities", "n_scrub_pairs")
      .exceptAll(unmasked).count() > 0,
      "masking changed nothing downstream")
    // the second mask stage matches the FIRST stage's output
    // ("<CUST> line") — dropping it must change the report, proving
    // rewrites compose in declared order
    val firstOnly = CurationFlow.run(spark, dir,
      cur.copy(stages = cur.stages.filterNot {
        case m: MaskStageDef => m.name == "scrub_pairs"
        case _               => false
      }))
    assert(masked.drop("n_scrub_pairs")
      .exceptAll(firstOnly).count() > 0,
      "the composed second mask stage was a no-op")
  }

  test("q329: the span scrub pre-pass removes duplicated spans the downstream gates then read") {
    import graft.meta.{Metadata, SpanScrubStageDef}
    val dir = sf("sf0.01")
    val cur = Metadata.parseCuration(CurationFlow.scrubCurationJson)
    val scrubbed = CurationFlow.run(spark, dir, cur)
    val unscrubbed = CurationFlow.run(spark, dir,
      cur.copy(stages = cur.stages.filterNot(_.isInstanceOf[SpanScrubStageDef])))
    // tokens_final must SHRINK somewhere: the corpus carries
    // cross-document duplicated spans, and scrubbing them reduces the
    // surviving token mass (equality would mean the stage never fired)
    val tf = scrubbed.agg(sum(col("tokens_final"))).head().getLong(0)
    val tfRaw = unscrubbed.agg(sum(col("tokens_final"))).head().getLong(0)
    assert(tf < tfRaw,
      s"span scrub removed no tokens ($tf vs $tfRaw) — decorative stage")
  }

  test("q330: containment drops the contained side and keeps the min-id representative") {
    import graft.meta.{Metadata, ContainmentStageDef}
    val dir = sf("sf0.01")
    val cur = Metadata.parseCuration(CurationFlow.containmentCurationJson)
    val rep = CurationFlow.run(spark, dir, cur).collect()
    val repOff = CurationFlow.run(spark, dir,
      cur.copy(stages = cur.stages.filterNot(_.isInstanceOf[ContainmentStageDef])))
      .collect()
    def m(rows: Array[org.apache.spark.sql.Row], col: String): Map[String, Long] =
      rows.map(r => r.getString(0) -> r.getLong(r.fieldIndex(col))).toMap
    val withStage = m(rep, "n_contained")
    val exactOnly = m(rep, "n_exact")
    // the stage genuinely drops documents beyond exact dedup...
    assert(withStage.values.sum < exactOnly.values.sum,
      "containment dropped nothing beyond dedup_exact")
    // ...and removing it changes the downstream budget stage
    assert(m(rep, "n_budget") != m(repOff, "n_budget"),
      "the budget stage did not see containment's survivors")
  }

  test("mask grammar: misdeclared configs die at parse time") {
    import graft.meta.{Metadata, MetadataError}
    def cfg(stages: String): String =
      s"""{"curation": {"table": "documents", "id_column": "doc_id",
         |"text_column": "text", "report_by": "source",
         |"stages": [$stages]}}""".stripMargin
    // mask after a membership stage: the pre-pass contract is violated
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "dedup_exact", "name": "exact"},
        |{"type": "mask", "name": "late", "rules": [
        |  {"pattern": "x", "replacement": "y"}]}""".stripMargin)))
    // group references would mean different things in Spark and DuckDB
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "mask", "name": "refs", "rules": [
        |  {"pattern": "(a)b", "replacement": "$1"}]}""".stripMargin)))
    // a quote could escape the generated SQL literal
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "mask", "name": "quote", "rules": [
        |  {"pattern": "a'b", "replacement": "x"}]}""".stripMargin)))
    // an unparseable regex must not reach the executor
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "mask", "name": "bad", "rules": [
        |  {"pattern": "(a", "replacement": "x"}]}""".stripMargin)))
    // span_scrub is a pre-pass too: same ordering contract as mask
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "dedup_exact", "name": "exact"},
        |{"type": "span_scrub", "name": "late", "span_len": 8}""".stripMargin)))
    // out-of-range knobs die at parse time
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "span_scrub", "name": "tiny", "span_len": 1}""")))
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "containment", "name": "zero", "min_pct": 0}""")))
    // a streamed config with a corpus-scan pre-pass fails fast
    intercept[MetadataError] {
      val cur = Metadata.parseCuration(cfg(
        """{"type": "span_scrub", "name": "scrub", "span_len": 8}"""))
      CurationFlow.runStream(cur,
        graft.Tables.load(spark, sf("sf0.001"), "documents"))
    }
  }

  test("q333: stored-index incremental semantic dedup equals rebuild-on-union, row for row") {
    val dir = sf("sf0.001")
    val inc = VectorQueries.q333_incremental_semdedup(spark, dir)
    val rebuilt = VectorQueries.semDedupIncrementalRebuilt(spark, dir)
    assert(inc.count() > 0, "the batch eighth produced no semantic dups")
    assert(sameRows(inc, rebuilt),
      "the persisted-index probe diverged from a one-pass recomputation")
  }

  test("q325 flow after a simulated mid-fold crash: an unpublished generation never corrupts scoring") {
    import org.apache.hadoop.fs.Path
    val dir = sf("sf0.001")
    val docs = graft.Tables.load(spark, dir, "documents")
    val root = graft.io.Scratch.dir(spark, "graft-foldcrash18-") + "/log"
    BatchLog.append(LanguageModel.countsOf(docs), root, 0L)
    // a fold that died between data write and marker publish
    LanguageModel.countsOf(docs.limit(3)).write
      .parquet(new Path(root, "gen-00001/batch=-1").toString)
    assert(sameRows(merged(BatchLog.read(spark, root)),
      LanguageModel.countsOf(docs)),
      "a crashed, unpublished fold changed what readers score from")
    // the policy's next fold vacuums the orphan and publishes cleanly
    assert(LanguageModel.maintainLogFold(spark, root, -1L),
      "forced fold (threshold -1) did not fire")
    assert(sameRows(BatchLog.read(spark, root),
      LanguageModel.countsOf(docs)),
      "post-crash fold lost or duplicated counts")
  }
}
