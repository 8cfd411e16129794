package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.BatchLog

/** Round-18 pins: stored-index incremental semantic dedup, and a
  * crashed, unpublished log fold that readers never see. The streamed
  * crash-after-append replay lives in LanguageModelSpec, the streamed
  * media manifest in MultimodalSpec.
  */
class Round18OpsSpec extends SparkSpec {

  private def merged(log: DataFrame): DataFrame =
    log.groupBy("bigram")
      .agg(sum(col("c_bigram")).cast("long").as("c_bigram"))
      .filter(col("c_bigram") > 0)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

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
    withTempDir("graft-foldcrash18-") { tmp =>
      val root = s"$tmp/log"
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
}
