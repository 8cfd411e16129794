package graft

import graft.pipeline.RuntimeConfig
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job-level profiling utility (tooling, like [[Explain]] — not part
  * of the bench harness): runs one query under the Bench session
  * config with a listener that prints every job's wall time, task
  * count and description. The iterative operators (PageRank, CC,
  * k-core, HITS) hide their cost in per-iteration jobs that the final
  * `explain` plan cannot show; this is how that cost is attributed.
  *
  * Usage: graft.Prof <sfDir> <queryName> [repeat]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args(1)
    val repeat = if (args.length > 2) args(2).toInt else 1
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var taskCount = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart.put(js.jobId,
          (System.nanoTime(), Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        taskCount.addAndGet(sc.stageInfo.numTasks.toLong)
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.get(je.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"[prof] job ${je.jobId}%4d ${ms}%9.1f ms  $desc")
        }
      }
    })

    val fn = SparkEntry.queries(name)
    // warm once on the flagship so JVM/codegen startup is not in the trace
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[prof] warm-up flagship failed: $e") }
    for (i <- 1 to repeat) {
      taskCount = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      println(f"[prof] === $name run $i: $dt%.3f s, tasks=${taskCount.get} ===")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
