package graft.queries

import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkSpec
import graft.io.BatchLog
import graft.streaming.FileFeed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

/** Hand-computed bigram-LM fixtures: corpus counts
  * "a b"→2, "b a"→2, "a c"→1; prefixes a→3, b→2. Contributions in
  * micro-units: "a b" = 2000000 div 3 = 666666, "b a" = 1000000,
  * "a c" = 333333.
  */
class LanguageModelSpec extends SparkSpec {
  import spark.implicits._

  private def score(rows: (Long, String, String)*) =
    LanguageModel.scoreDocs(rows.toDF("doc_id", "source", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap

  test("fluency is the exact integer mean of scaled conditional frequencies") {
    val out = score(
      (1L, "s", "a b a b a"), // bigrams: ab ba ab ba
      (2L, "s", "a c"))
    // d1: (666666*2 + 1000000*2) div 4 = 3333332 div 4 = 833333
    assert(out(1L) === ((4L, 833333L)))
    // d2: 333333 div 1
    assert(out(2L) === ((1L, 333333L)))
  }

  test("repetitive text scores the maximum; unique text scores low") {
    val out = score(
      (1L, "s", "x x x x x x x x"),     // only bigram "x x": p=1
      (2L, "s", "q w e r t y u i o p")) // every bigram unique, every prefix unique
    assert(out(1L)._2 === 1000000L)
    // all-unique corpus-wide bigrams with shared-nothing prefixes → p = 1 too,
    // UNLESS prefixes repeat across docs; here they don't, so pin exactly:
    assert(out(2L)._2 === 1000000L)
    // the discriminating case: the same prefix fanning out lowers the score
    val fanned = score(
      (1L, "s", "the cat"), (2L, "s", "the dog"),
      (3L, "s", "the cat"), (4L, "s", "the bird"))
    // "the cat": c=2, prefix "the"=4 -> 500000; "the dog"/"the bird": 250000
    assert(fanned(1L)._2 === 500000L)
    assert(fanned(2L)._2 === 250000L)
  }

  test("tokenization is lower-cased: 'The' and 'the' share statistics") {
    val out = score((1L, "s", "The cat"), (2L, "s", "the cat"))
    assert(out(1L) === out(2L)) // identical bigram after lowering
    assert(out(1L)._2 === 1000000L)
  }

  test("single-token and empty docs are excluded (no bigram to score)") {
    val out = score((1L, "s", "only"), (2L, "s", "  "), (3L, "s", "a b"))
    assert(out.keySet === Set(3L))
  }

  private def merged(log: DataFrame): DataFrame =
    log.groupBy("bigram")
      .agg(sum(col("c_bigram")).cast("long").as("c_bigram"))
      .filter(col("c_bigram") > 0)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The streamed index-maintenance family is exactly-once in EFFECT
    * under foreachBatch's at-least-once delivery. The injected failure
    * is the real one — a micro-batch whose side effect lands but whose
    * checkpoint offset does not, so the restarted stream re-delivers
    * it — and scoring from the drained log must still equal a
    * from-scratch rebuild (BatchLogSpec pins the protocol pieces; this
    * drives the whole stream through a crash).
    */
  test("streamed LM ingest survives a crash-after-append: the replayed micro-batch does not double count") {
    val dir = sf("sf0.001")
    val docs = graft.Tables.load(spark, dir, "documents")
    withTempDir("graft-replay18-") { tmp =>
      val work = tmp.toString
      CurationFlow.stageTwoBatches(spark, work, docs, "doc_id")
      val crashed = new AtomicBoolean(false)
      def drive(): StreamingQuery =
        FileFeed.drain(spark, s"$work/incoming", docs.schema, s"$work/ckpt")(
          _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
            BatchLog.append(
              LanguageModel.countsOf(batch), s"$work/lm_index", batchId)
            // die AFTER the side effect, BEFORE the checkpoint commit —
            // the restart below re-delivers this exact batch
            if (batchId == 1L && crashed.compareAndSet(false, true))
              throw new RuntimeException("injected post-append crash")
            ()
          })
      intercept[StreamingQueryException](drive())
      assert(crashed.get(), "the injected crash never fired")
      drive() // restart from the same checkpoint: batch 1 replays
      assert(sameRows(merged(BatchLog.read(spark, s"$work/lm_index")),
        LanguageModel.countsOf(docs)),
        "replayed micro-batch corrupted the merged log vs rebuild")
    }
  }
}
