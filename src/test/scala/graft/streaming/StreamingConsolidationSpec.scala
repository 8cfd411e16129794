package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.StreamingConsolidation.{fold, keepNewest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQuery

class StreamingConsolidationSpec extends SparkSpec {

  private def ev(id: Long, t: String, user: Long, v: Double) =
    EventsStreaming.Event(id, Timestamp.valueOf(t), user, "click", v)

  private val newestPerUser =
    keepNewest(keyCol = "user_id", orderByCol = "ts", tieBreakerCol = "event_id")

  /** Starts the keep-newest fold of `stream` into `snapshot`. */
  private def startFold(stream: DataFrame, snapshot: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fold(snapshot)(newestPerUser))
      .start()

  test("micro-batches consolidate to keep-newest per key across the whole stream") {
    withTempDir("consol") { tmp =>
      val s = spark
      import s.implicits._
      implicit val sql = spark.sqlContext
      val dir = tmp.toString
      val snapshot = s"$dir/snapshot"

      val stream = MemoryStream[EventsStreaming.Event]
      def runAvailable(): Unit = {
        val q = startFold(stream.toDF(), snapshot, s"$dir/checkpoint")
        try q.processAllAvailable() finally q.stop()
      }

      // batch 1: users 1 and 2
      stream.addData(
        ev(1, "2024-01-01 10:00:00", 1, 10.0),
        ev(2, "2024-01-01 11:00:00", 1, 20.0), // newer for user 1
        ev(3, "2024-01-01 10:30:00", 2, 30.0))
      runAvailable()

      // batch 2: newer row for user 2, OLDER row for user 1 (must lose),
      // and a new user 3
      stream.addData(
        ev(4, "2024-01-01 09:00:00", 1, 99.0), // older than event 2
        ev(5, "2024-01-01 12:00:00", 2, 50.0),
        ev(6, "2024-01-01 10:00:00", 3, 60.0))
      runAvailable()

      val out = spark.read.parquet(snapshot)
        .select("user_id", "event_id", "value")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(out == Map(
        1L -> (2L, 20.0), // batch-2 older row lost
        2L -> (5L, 50.0), // batch-2 newer row won
        3L -> (6L, 60.0)))
    }
  }

  test("a crash between move-aside and promote does not lose the snapshot") {
    withTempDir("consolcrash") { tmp =>
      val s = spark
      import s.implicits._
      implicit val sql = spark.sqlContext
      val dir = tmp.toString
      val snapshot = s"$dir/snapshot"

      val stream = MemoryStream[EventsStreaming.Event]
      def runAvailable(): Unit = {
        val q = startFold(stream.toDF(), snapshot, s"$dir/checkpoint")
        try q.processAllAvailable() finally q.stop()
      }

      stream.addData(ev(1, "2024-01-01 10:00:00", 1, 10.0))
      runAvailable()

      // simulate the crash window: the previous snapshot was moved aside
      // but the promote never happened
      val fs = new org.apache.hadoop.fs.Path(snapshot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(snapshot),
        new org.apache.hadoop.fs.Path(snapshot + "_old")))

      // the replayed/next micro-batch must first recover user 1's state
      stream.addData(ev(2, "2024-01-01 11:00:00", 2, 20.0))
      runAvailable()

      val users = spark.read.parquet(snapshot)
        .select("user_id").collect().map(_.getLong(0)).toSet
      assert(users == Set(1L, 2L)) // user 1 survived the crash window
    }
  }

  test("a pre-created empty snapshot dir consolidates like no dir at all") {
    val s = spark
    import s.implicits._
    implicit val sql = spark.sqlContext
    def consolidate(preCreate: Boolean): Set[(Long, Long, Double)] = {
      withTempDir("consolempty") { tmp =>
        val dir = tmp.toString
        val snapshot = s"$dir/snapshot"
        if (preCreate) assert(new java.io.File(snapshot).mkdirs())
        val stream = MemoryStream[EventsStreaming.Event]
        def runAvailable(): Unit = {
          val q = startFold(stream.toDF(), snapshot, s"$dir/checkpoint")
          try q.processAllAvailable() finally q.stop()
        }
        stream.addData(
          ev(1, "2024-01-01 10:00:00", 1, 10.0),
          ev(2, "2024-01-01 11:00:00", 1, 20.0),
          ev(3, "2024-01-01 10:30:00", 2, 30.0))
        runAvailable()
        stream.addData(
          ev(4, "2024-01-01 09:00:00", 1, 99.0),
          ev(5, "2024-01-01 12:00:00", 2, 50.0))
        runAvailable()
        spark.read.parquet(snapshot).select("user_id", "event_id", "value")
          .as[(Long, Long, Double)].collect().toSet
      }
    }
    val fromNothing = consolidate(preCreate = false)
    assert(fromNothing == Set((1L, 2L, 20.0), (2L, 5L, 50.0)))
    assert(consolidate(preCreate = true) == fromNothing)
  }

  test("a stream restarted on its checkpoint reads only the files that arrived since") {
    val s = spark
    import s.implicits._
    val file1 = Seq(
      ev(1, "2024-01-01 10:00:00", 1, 10.0),
      ev(2, "2024-01-01 11:00:00", 1, 20.0),
      ev(3, "2024-01-01 10:30:00", 2, 30.0)).toDF()
    val file2 = Seq(
      ev(4, "2024-01-01 09:00:00", 1, 99.0),
      ev(5, "2024-01-01 12:00:00", 2, 50.0)).toDF()
    /** One AvailableNow run over `dir/incoming`; the rows it read. */
    def runAvailable(dir: java.nio.file.Path): Long =
      FileFeed.drain(spark, s"$dir/incoming", file1.schema, s"$dir/checkpoint")(
        _.writeStream.foreachBatch(fold(s"$dir/snapshot")(newestPerUser)))
        .recentProgress.map(_.numInputRows).sum
    def snapshot(dir: java.nio.file.Path) = spark.read.parquet(s"$dir/snapshot").collect().toSet
    withTempDir("consolrestart") { restarted =>
      FileFeed.write(s"$restarted/incoming", Seq("b0" -> file1))
      assert(runAvailable(restarted) === 3L)
      FileFeed.write(s"$restarted/incoming", Seq("b1" -> file2))
      assert(runAvailable(restarted) === 2L)
      withTempDir("consolonce") { once =>
        FileFeed.write(s"$once/incoming", Seq("b0" -> file1, "b1" -> file2))
        assert(runAvailable(once) === 5L)
        assert(snapshot(restarted) === snapshot(once))
      }
    }
  }

  test("an additive fold over three drained files equals the one-shot aggregate") {
    val s = spark
    import s.implicits._
    val files = Seq(
      Seq(ev(1, "2024-01-01 10:00:00", 1, 10.0), ev(2, "2024-01-01 11:00:00", 2, 20.0)),
      Seq(ev(3, "2024-01-02 10:00:00", 1, 30.0)),
      Seq(ev(4, "2024-01-03 10:00:00", 3, 40.0), ev(5, "2024-01-03 11:00:00", 1, 50.0)))
      .map(_.toDF())
    val perUser = (df: DataFrame) =>
      df.groupBy("user_id").agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val sums = (df: DataFrame) =>
      df.groupBy("user_id").agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
    withTempDir("consolsum") { dir =>
      FileFeed.write(s"$dir/incoming", files.zipWithIndex.map { case (f, i) => s"b$i" -> f })
      val q = FileFeed.drain(spark, s"$dir/incoming", files.head.schema, s"$dir/checkpoint")(
        _.writeStream.foreachBatch(fold(s"$dir/state", perUser)(sums)))
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      val folded = spark.read.parquet(s"$dir/state")
        .as[(Long, Long, Double)].collect().toSet
      assert(folded === perUser(files.reduce(_ unionByName _))
        .as[(Long, Long, Double)].collect().toSet)
      assert(folded === Set((1L, 3L, 90.0), (2L, 1L, 20.0), (3L, 1L, 40.0)))
    }
  }
}
