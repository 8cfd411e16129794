package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

/** The micro-batch driver: one staged file per micro-batch in arrival
  * order, the pinned shuffle partitions inside the stream, and the
  * caller's session conf back afterwards, also when a batch throws.
  */
class FileFeedSpec extends SparkSpec {

  private val key = "spark.sql.shuffle.partitions"

  /** Stages three one-row files whose names sort against their
    * arrival order, so only modification times can order them. */
  private def stageThree(dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    val files = Seq("c" -> 0L, "b" -> 1L, "a" -> 2L)
      .map { case (name, arrival) => name -> Seq(arrival).toDF("arrival") }
    FileFeed.write(s"$dir/incoming", files)
    files.head._2
  }

  /** Runs `body` with the session's shuffle partitions at 3, then
    * restores the suite's value. */
  private def withCallerPartitions[A](body: => A): A = {
    val suite = spark.conf.get(key)
    spark.conf.set(key, "3")
    try body finally spark.conf.set(key, suite)
  }

  test("three staged files drain as three micro-batches in arrival order") {
    withTempDir("filefeed-order") { dir =>
      val schema = stageThree(dir.toString).schema
      val seen = new ConcurrentLinkedQueue[(Long, Seq[Long])]()
      FileFeed.drain(spark, s"$dir/incoming", schema, s"$dir/ckpt")(
        _.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
          seen.add(id -> batch.collect().map(_.getLong(0)).toSeq)
          ()
        })
      assert(seen.asScala.toSeq === Seq(0L -> Seq(0L), 1L -> Seq(1L), 2L -> Seq(2L)))
    }
  }

  test("foreachBatch sees 8 shuffle partitions; the caller's value is back after drain") {
    withTempDir("filefeed-pin") { dir =>
      val schema = stageThree(dir.toString).schema
      val seen = new ConcurrentLinkedQueue[String]()
      withCallerPartitions {
        FileFeed.drain(spark, s"$dir/incoming", schema, s"$dir/ckpt")(
          _.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
            seen.add(batch.sparkSession.conf.get(key))
            ()
          })
        assert(spark.conf.get(key) === "3")
      }
      assert(seen.asScala.toSeq === Seq("8", "8", "8"))
    }
  }

  test("a throwing micro-batch surfaces as StreamingQueryException and restores the caller's value") {
    withTempDir("filefeed-throw") { dir =>
      val schema = stageThree(dir.toString).schema
      withCallerPartitions {
        val e = intercept[StreamingQueryException](
          FileFeed.drain(spark, s"$dir/incoming", schema, s"$dir/ckpt")(
            _.writeStream.foreachBatch { (_: DataFrame, id: Long) =>
              if (id == 1L) throw new IllegalStateException("injected batch failure")
              ()
            }))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains("injected batch failure")))
        assert(spark.conf.get(key) === "3")
      }
    }
  }
}
