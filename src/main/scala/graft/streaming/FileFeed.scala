package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single-file micro-batches for the file stream source: every
  * streaming leg stages its input as plain parquet files (the source
  * lists files, not directories) and reads them with
  * `maxFilesPerTrigger = 1`. The source picks files up oldest-first,
  * so strictly increasing modification times fix the arrival order.
  */
object FileFeed {

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
