package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and Spark listener records for a traced run.
  *
  * Spans are recorded by the benchmark around its own calls into graft
  * (no instrumentation inside the program). Spark jobs become child
  * spans of the op that was running when they started; the job's call
  * site, the first `graft.` frame of the stage's stack, names the graft
  * module that submitted it.
  */
final class Trace {
  import Trace._

  final class Job(val id: Int, val startMs: Long, val module: String, val site: String) {
    var endMs: Long = startMs
    var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var recordsIn, bytesIn, bytesOut = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private var open = List(0)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val execModule = mutable.HashMap[Long, (String, String)]()
  private val planned = mutable.ArrayBuffer[Planned]()
  private val micro = mutable.ArrayBuffer[MicroBatch]()

  /** Times `body` as a span under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.head
    open = id :: open
    val t0 = System.currentTimeMillis()
    try body
    finally {
      open = open.tail
      spans += Span(id, parent, name, t0, System.currentTimeMillis())
    }
  }

  private def moduleOf(details: String): (String, String) = {
    val frame = details.split("\n").map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
    frame match {
      case Some(f) =>
        val cls = f.takeWhile(_ != '(').split('.').dropRight(1) // drop method
        val mod = cls.drop(1).mkString(".").takeWhile(_ != '$')
        (mod, f.dropWhile(_ != '(').stripPrefix("(").stripSuffix(")"))
      case None => ("other", "")
    }
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { execModule(s.executionId) = moduleOf(s.details) }
      case _ =>
    }
    // a job submitted from an adaptive-execution or streaming thread has no
    // graft frame of its own: it takes the module of its SQL execution
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val own = last.map(s => moduleOf(s.details)).filter(_._1 != "other")
      val exec = prop("spark.sql.execution.id").flatMap(id => execModule.get(id.toLong))
        .filter(_._1 != "other")
      val fallback = if (prop("sql.streaming.queryId").nonEmpty) ("streaming", "") else ("other", "")
      val (mod, site) = own.orElse(exec).getOrElse(fallback)
      jobs(e.jobId) = new Job(e.jobId, e.time, mod, site)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      for (id <- stageJob.get(e.stageId); j <- jobs.get(id) if m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.recordsIn += m.inputMetrics.recordsRead
        j.bytesIn += m.inputMetrics.bytesRead
        j.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) Trace.this.synchronized {
        planned += Planned(phases.values.map(_.startTimeMs).min,
          phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Trace.this.synchronized { micro += MicroBatch(start, ms) }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for the listeners to see every event posted so far. Call it
    * before [[opLayers]] and [[allSpans]], never while holding this
    * object's lock (the listeners take it).
    */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Per-op layer figures: everything the listeners saw between the op's
    * start and end.
    */
  def opLayers(startMs: Long, endMs: Long): Map[String, Any] = synchronized {
    val js = jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
    val byModule = js.groupBy(_.module).map { case (mod, g) =>
      mod -> Map[String, Any](
        "jobs" -> g.size,
        "busy_s" -> Trace.unionMs(g.map(j => (j.startMs, j.endMs))) / 1000.0,
        "records_in" -> g.map(_.recordsIn).sum,
        "bytes_in" -> g.map(_.bytesIn).sum,
        "bytes_out" -> g.map(_.bytesOut).sum)
    }
    val mb = micro.filter(m => m.startMs >= startMs && m.startMs <= endMs)
    Map(
      "jobs" -> js.size,
      "job_union_s" -> Trace.unionMs(js.map(j => (j.startMs, j.endMs))) / 1000.0,
      "exec_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "exec_run_s" -> js.map(_.runMs).sum / 1000.0,
      "gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "shuffle_write_mb" -> js.map(_.shuffleWrite).sum / 1048576.0,
      "shuffle_read_mb" -> js.map(_.shuffleRead).sum / 1048576.0,
      "spill_mb" -> js.map(_.spill).sum / 1048576.0,
      "plan_ms" -> planned.filter(p => p.startMs >= startMs && p.startMs <= endMs).map(_.ms).sum,
      "microbatches" -> mb.size,
      "microbatch_ms" -> mb.map(_.ms),
      "modules" -> byModule)
  }

  /** All spans, with one child span per Spark job under the span that was
    * innermost when the job started.
    */
  def allSpans(): Seq[Map[String, Any]] = synchronized {
    val own = spans.toSeq.sortBy(_.startMs)
    def holder(t: Long): Int = own
      .filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0)
    own.map(s => Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)) ++
      jobs.values.toSeq.map(j => Map[String, Any]("id" -> s"job${j.id}", "parent" -> holder(j.startMs),
        "name" -> s"spark.job ${j.module}", "site" -> j.site,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "exec_cpu_s" -> j.cpuNs / 1e9, "records_in" -> j.recordsIn))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long)
  final case class Planned(startMs: Long, ms: Double)
  final case class MicroBatch(startMs: Long, ms: Long)

  /** Length of the union of `[start, end]` intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var started = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > curE) {
        if (started) total += curE - curS
        curS = s; curE = e; started = true
      } else curE = math.max(curE, e)
    }
    if (started) total += curE - curS
    total
  }
}
