package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Single-file micro-batches for the file stream source: every
  * streaming leg stages its input as plain parquet files (the source
  * lists files, not directories) and [[drain]]s them one file per
  * micro-batch. The source picks files up oldest-first, so strictly
  * increasing modification times fix the arrival order.
  */
object FileFeed {

  /** Shuffle partitions of every drained stream (the q74 rule): AQE
    * cannot coalesce inside a streaming query, so a micro-batch
    * aggregation otherwise runs (and a stateful operator commits) one
    * unit per session shuffle partition — a 32-way task/fsync fan-out
    * for KB-sized deltas. (A foreachBatch body runs batch jobs, which
    * AQE still coalesces.) A stateful query keeps the value its
    * checkpoint was started with, so it is a constant, not a setting.
    */
  private val StreamShufflePartitions = "8"

  /** The one micro-batch driver: streams the parquet files in
    * `watchDir` (read with `schema`) one file per micro-batch, hands
    * that stream to `sink` for its writer, and runs the writer with
    * `AvailableNow` on `checkpoint` until every file present at start
    * is consumed. A query started again on the same checkpoint reads
    * only the files that arrived since, and first replays a
    * micro-batch that did not commit. `spark.sql.shuffle.partitions`
    * is [[StreamShufflePartitions]] while the query runs and the
    * caller's value afterwards; a failing micro-batch surfaces as the
    * query's `StreamingQueryException`.
    */
  def drain(spark: SparkSession, watchDir: String, schema: StructType, checkpoint: String)(
      sink: DataFrame => DataStreamWriter[Row]): StreamingQuery = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, StreamShufflePartitions)
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(watchDir)
      val query = sink(stream)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .start()
      query.awaitTermination()
      query
    } finally spark.conf.set(key, old)
  }

  /** Writes each `(name, df)` as the one parquet file
    * `dir/<name>.parquet`, in the given order, one second of mtime
    * apart. Each write goes through a `_`-prefixed sibling dir, which
    * Spark's file listing skips, and that dir is deleted afterwards.
    */
  def write(dir: String, batches: Seq[(String, DataFrame)]): Unit = {
    val t0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case ((name, df), i) =>
      val dst = new Path(s"$dir/$name.parquet")
      val stage = new Path(s"$dir/_stage-$name")
      val fs = dst.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      df.coalesce(1).write.parquet(stage.toString)
      val part = fs.globStatus(new Path(stage, "part-*.parquet")).head.getPath
      // Hadoop rename reports failure as false, not by throwing — a
      // silently missing batch would surface only as a wrong answer
      require(fs.rename(part, dst), s"failed to stage $part as $dst")
      fs.delete(stage, true)
      fs.setTimes(dst, t0 + i * 1000L, -1)
    }
  }

  /** Copies `files` into `watchDir` as `b0.parquet`, `b1.parquet`, …
    * in the given order, one second of mtime apart. */
  def arrive(spark: SparkSession, files: Seq[String], watchDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(watchDir).getFileSystem(conf)
    fs.mkdirs(new Path(watchDir))
    val t0 = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (file, i) =>
      val staged = new Path(s"$watchDir/b$i.parquet")
      FileUtil.copy(fs, new Path(file), fs, staged, false, conf)
      fs.setTimes(staged, t0 + i * 1000L, -1)
    }
  }
}
