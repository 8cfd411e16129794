package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The replay-safety contract the streamed index-maintenance family
  * (q309/q316/q317/q318/q320/q321/q325) stands on: `foreachBatch` is
  * at-least-once, so the log must make re-delivery and mid-fold
  * crashes invisible — duplicate-delivery idempotence, post-fold
  * replay suppression, and write-then-publish fold generations.
  */
class BatchLogSpec extends SparkSpec {

  private def counts(rows: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("bigram", "c_bigram")
  }

  private def merged(log: DataFrame): DataFrame =
    log.groupBy("bigram")
      .agg(sum(col("c_bigram")).cast("long").as("c_bigram"))
      .filter(col("c_bigram") > 0)

  private def asMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("duplicate delivery: re-appending the same batchId leaves the log unchanged") {
    withTempDir("graft-batchlog-dup-") { tmp =>
      val root = s"$tmp/log"
      BatchLog.base(counts(Seq("a b" -> 2L, "b c" -> 1L)), root)
      BatchLog.append(counts(Seq("a b" -> 1L)), root, 0L)
      val once = asMap(merged(BatchLog.read(spark, root)))
      // the at-least-once replay: identical batch, identical batchId
      BatchLog.append(counts(Seq("a b" -> 1L)), root, 0L)
      BatchLog.append(counts(Seq("a b" -> 1L)), root, 0L)
      assert(asMap(merged(BatchLog.read(spark, root))) === once,
        "a replayed micro-batch double-counted")
      assert(once("a b") === 3L)
    }
  }

  test("post-fold replay: a batchId the fold absorbed is dropped, not re-appended") {
    withTempDir("graft-batchlog-fold-") { tmp =>
      val root = s"$tmp/log"
      BatchLog.append(counts(Seq("a b" -> 2L, "b c" -> 1L)), root, 0L)
      BatchLog.append(counts(Seq("a b" -> 1L, "b c" -> -1L)), root, 1L)
      BatchLog.fold(spark, root)(merged)
      val folded = asMap(BatchLog.read(spark, root))
      assert(folded === Map("a b" -> 3L), "fold did not merge the log")
      // batch 1 re-delivered AFTER the fold that absorbed it: must no-op
      BatchLog.append(counts(Seq("a b" -> 1L, "b c" -> -1L)), root, 1L)
      assert(asMap(BatchLog.read(spark, root)) === folded,
        "a replayed absorbed batch re-appended into the folded generation")
      // a genuinely NEW batch still lands
      BatchLog.append(counts(Seq("c d" -> 5L)), root, 2L)
      assert(asMap(merged(BatchLog.read(spark, root))) ===
        Map("a b" -> 3L, "c d" -> 5L))
    }
  }

  test("kill between generations: fold data without a marker is invisible and vacuumed") {
    withTempDir("graft-batchlog-crash-") { tmp =>
      val root = s"$tmp/log"
      BatchLog.append(counts(Seq("a b" -> 2L)), root, 0L)
      BatchLog.append(counts(Seq("a b" -> 1L, "b c" -> 4L)), root, 1L)
      val before = asMap(merged(BatchLog.read(spark, root)))
      // simulate a fold that crashed AFTER its data write but BEFORE the
      // marker publish: generation-1 data exists, no marker
      counts(Seq("WRONG" -> 99L)).write
        .parquet(new Path(root, "gen-00001/batch=-1").toString)
      assert(asMap(merged(BatchLog.read(spark, root))) === before,
        "an unpublished fold generation leaked into readers")
      // the next fold attempt vacuums the orphan and publishes cleanly
      BatchLog.fold(spark, root)(merged)
      assert(asMap(BatchLog.read(spark, root)) === before,
        "the crashed fold's orphan survived the vacuum")
      assert(BatchLog.current(spark, root).version === 1)
    }
  }

  test("the log is never absent mid-fold: old generation stays readable until the marker lands") {
    withTempDir("graft-batchlog-atomic-") { tmp =>
      val root = s"$tmp/log"
      BatchLog.base(counts(Seq("a b" -> 7L)), root)
      BatchLog.fold(spark, root)(merged)
      // after a published fold, generation 0's files are untouched
      // (write-then-publish never deletes the artifact readers resolve)
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new Path(root, "gen-00000/batch=-1")),
        "fold destroyed the previous generation — delete-then-rename window")
      assert(asMap(BatchLog.read(spark, root)) === Map("a b" -> 7L))
    }
  }
}
