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
