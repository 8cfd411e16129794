package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.meta.{Metadata, PipelineMeta}
import graft.pipeline.{IncrementalPipeline, RuntimeConfig}
import graft.queries.CurationFlow
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One benchmark run of one workload, in one JVM with one client thread
  * in a closed loop: the next operation starts when the previous one has
  * finished.
  *
  * `Main <plan.json> <result.json>`. The plan (written by run.py) names
  * the workload, the generated inputs, the run length and whether to
  * trace. The result holds raw samples: set-up times, one record per
  * operation, and what run.py needs to check the outputs. run.py turns
  * them into metrics; nothing here decides pass or fail.
  */
object Main {

  private implicit val formats: Formats = DefaultFormats

  final case class OpRecord(
      kind: String, name: String, startMs: Long, endMs: Long,
      wallS: Double, cpuS: Double, error: Option[String],
      info: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val plan = JsonMethods.parse(Files.readString(Paths.get(argv(0))))
    val work = Paths.get((plan \ "work").extract[String])
    val workload = (plan \ "workload").extract[String]
    val traced = (plan \ "trace").extract[Boolean]

    val trace = if (traced) Some(new Trace) else None
    val ws = new Workloads(plan, work, trace)
    val confPath = (plan \ "session_conf").extract[String]
    var conf: RuntimeConfig = null
    // the set-up a user's scheduled run pays: the session built from the
    // runtime config, the declared metadata parsed, inputs staged on fresh
    // paths. The JVM's first session pays class loading and is not counted.
    def session(): SparkSession = {
      conf = ws.parse(RuntimeConfig.load(confPath))
      val s = conf.sessionBuilder().getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val tSession = System.nanoTime()
    ws.spark = session()
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val w = workload match {
      case "pipeline_daily"  => ws.pipelineDaily()
      case "curation_funnel" => ws.curationFunnel()
      case "driver_loops"    => ws.driverLoops()
      case other             => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // the first set-up pays class loading for parsing and staging and is not
    // counted; each counted one starts from a collected heap
    w.setup(0)
    val reps = (1 to (plan \ "setup_reps").extract[Int]).map { rep =>
      ws.spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      System.gc()
      ws.parseMs = 0.0
      val t0 = System.nanoTime()
      ws.spark = session()
      w.setup(rep)
      ((System.nanoTime() - t0) / 1e9, ws.parseMs)
    }
    val setupS = reps.map(_._1)
    val spark = ws.spark
    val resolved = (conf.sparkConf.keys.toSeq :+ "spark.sql.shuffle.partitions" :+ "spark.master")
      .sorted.map(k => k -> spark.conf.getOption(k).getOrElse(spark.sparkContext.getConf.get(k, "")))
    trace.foreach(_.attach(spark))

    val tWarm = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - tWarm) / 1e9

    // closed loop: one client, one op at a time, until the run's time is up
    val ops = mutable.ArrayBuffer[OpRecord]()
    val deadline = System.nanoTime() + ((plan \ "seconds").extract[Double] * 1e9).toLong
    val tTimed = System.nanoTime()
    while (System.nanoTime() < deadline || !w.atBoundary) ops += w.step()
    val timedS = (System.nanoTime() - tTimed) / 1e9

    // the context cleaner frees shuffle and broadcast state only after a
    // GC has found it unreachable; give it time before the final count
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val layered = trace match {
      case Some(t) =>
        t.drain(spark)
        ops.map(o => o.copy(info = o.info + ("layers" -> t.opLayers(o.startMs, o.endMs))))
      case None => ops
    }
    trace.foreach { t =>
      val lines = t.allSpans().map(Json.write).mkString("\n")
      Files.writeString(work.resolve("spans.jsonl"), lines + "\n")
    }

    val result = Map[String, Any](
      "workload" -> workload,
      "phase_s" -> Map("session" -> sessionS, "setup" -> setupS.sum, "warmup" -> warmS,
        "timed" -> timedS),
      "confs" -> resolved.toMap,
      "setup_s" -> setupS,
      "parse_ms" -> reps.map(_._2),
      "heap_live_mb" -> heapMb,
      "ops" -> layered.map(o => Map[String, Any](
        "kind" -> o.kind, "name" -> o.name, "wall_s" -> o.wallS, "cpu_s" -> o.cpuS,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "error" -> o.error.orNull) ++ o.info),
      "extra" -> w.extra())
    Files.writeString(Paths.get(argv(1)), Json.write(result))
    spark.stop()
  }
}

/** What a workload does at each phase of the run. */
trait Workload {
  /** Prepares fresh paths and any prior state the timed ops read. */
  def setup(rep: Int): Unit
  /** One untimed op on paths no timed op uses. */
  def warmup(): Unit
  /** The next op of the closed loop. */
  def step(): Main.OpRecord
  /** False while a unit of work that must finish is half done. */
  def atBoundary: Boolean = true
  /** Workload facts run.py needs for its checks. */
  def extra(): Map[String, Any] = Map.empty
}

/** The three workloads, and the timing of one op. */
final class Workloads(plan: JValue, work: Path, trace: Option[Trace]) {

  var spark: SparkSession = _

  import Main.OpRecord
  private implicit val formats: Formats = DefaultFormats

  /** Time spent parsing declarations (runtime config, metadata) since the
    * last reset. */
  var parseMs = 0.0
  private def traced[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = ManagementFactory.getCompilationMXBean
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** Runs `body` as one op; an exception fails the op and is kept. */
  private def op(kind: String, name: String)(body: => Map[String, Any]): OpRecord = {
    val c0 = cpuBean.getProcessCpuTime
    val (jit0, gc0) = (jitBean.getTotalCompilationTime, gcMs)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (info, err) =
      try (traced(s"op $kind")(body), None)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        (Map.empty[String, Any], Some(e.toString))
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val jvm = Map("jit_s" -> (jitBean.getTotalCompilationTime - jit0) / 1000.0,
      "gc_s" -> (gcMs - gc0) / 1000.0)
    OpRecord(kind, name, s0, System.currentTimeMillis(), wall,
      (cpuBean.getProcessCpuTime - c0) / 1e9, err, info + ("jvm" -> jvm))
  }

  def parse[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = traced("meta.parse")(body)
    parseMs += (System.nanoTime() - t0) / 1e6
    r
  }

  private def str(key: String): String = (plan \ key).extract[String]
  private def int(key: String): Int = (plan \ key).extract[Int]

  /** Hard-links every file under `src` into `dst` (same tree). */
  private def link(src: Path, dst: Path): Unit = {
    val files = Files.walk(src).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    files.foreach { f =>
      val to = dst.resolve(src.relativize(f))
      Files.createDirectories(to.getParent)
      Files.createLink(to, f)
    }
  }

  private def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  // ---------------------------------------------------------------- pipeline

  /** The reference pipeline over daily event batches. A cycle starts on
    * fresh paths: `backfill` batches are landed and one run processes
    * them all (full consolidation); then batches land one at a time and
    * each is followed by one run (incremental consolidation).
    */
  def pipelineDaily(): Workload = new Workload {
    private val pool = Paths.get(str("pool"))
    private val batches = (plan \ "batches").extract[Seq[String]]
    private val backfill = int("backfill")
    private var meta: PipelineMeta = _
    private var cycle = 0
    private var landed = 0
    private var root: Path = _

    private def land(d: String): Unit = link(pool.resolve(s"batch-$d"), root.resolve(s"landing/batch-$d"))

    private def startCycle(name: String, n: Int): Unit = {
      root = work.resolve(s"pipe/$name")
      Files.createDirectories(root.resolve("landing"))
      batches.take(n).foreach(land)
      landed = n
    }

    private def run(): IncrementalPipeline.RunResult = {
      val cfg = IncrementalPipeline.Config(
        inputBaseDir = root.resolve("landing").toString, batchPrefix = "batch-",
        manifestPath = root.resolve("manifest.json").toString,
        runId = s"${root.getFileName}-$landed",
        substitutions = Map("root" -> root.toString))
      traced("IncrementalPipeline.run")(IncrementalPipeline.run(spark, meta, cfg))
    }

    /** Untimed: keep this op's snapshot and manifest for the checks. */
    private def capture(tag: String): String = {
      val dst = work.resolve(s"checks/$tag")
      link(root.resolve("out/consolidated"), dst.resolve("snapshot"))
      Files.copy(root.resolve("manifest.json"), dst.resolve("manifest.json"))
      dst.toString
    }

    private def pipelineOp(kind: String, newBatches: Seq[String]): OpRecord = {
      val r = op(kind, newBatches.mkString(",")) {
        val res = run()
        Map("processed" -> res.processedBatches, "consolidation" -> res.consolidation.orNull)
      }
      val tag = s"${root.getFileName}-$landed"
      r.copy(info = r.info ++ Map("root" -> root.toString, "batches" -> newBatches,
        "landed" -> landed, "check_dir" -> (if (r.error.isEmpty) capture(tag) else null)))
    }

    def setup(rep: Int): Unit = {
      meta = parse(Metadata.parse(str("metadata")))
      startCycle(s"setup$rep", backfill)
    }

    def warmup(): Unit = {
      startCycle("warm", backfill)
      run()
      batches.drop(backfill).foreach { d =>
        land(d)
        landed += 1
        run()
      }
    }

    override def atBoundary: Boolean = landed >= batches.size

    def step(): OpRecord = {
      if (cycle == 0 || landed >= batches.size) {
        cycle += 1
        startCycle(s"c$cycle", backfill)
        pipelineOp("backfill", batches.take(backfill))
      } else {
        val d = batches(landed)
        land(d)
        landed += 1
        pipelineOp("arrival", Seq(d))
      }
    }
  }

  // ---------------------------------------------------------------- curation

  /** The declared full curation grammar over a corpus path no earlier op
    * has seen, so every op pays the near-dup artifact build a user pays
    * for a new corpus.
    */
  def curationFunnel(): Workload = new Workload {
    private val corpus = Paths.get(str("corpus"))
    private var cur: graft.meta.CurationDef = _
    private var n = 0

    private def freshDir(tag: String): String = {
      val dir = work.resolve(s"corpus/$tag")
      Files.createDirectories(dir)
      Files.createLink(dir.resolve("documents.parquet"), corpus)
      dir.toString
    }

    private def funnel(dir: String): Seq[Row] = {
      val report = traced("CurationFlow.run")(CurationFlow.run(spark, dir, cur))
      traced("force")(report.collect().toSeq)
    }

    def setup(rep: Int): Unit = {
      cur = parse(Metadata.parseCuration(CurationFlow.fullGrammarCurationJson))
      freshDir(s"setup$rep")
    }

    def warmup(): Unit = {
      funnel(work.resolve("corpus/setup1").toString)
      releaseCaches()
    }

    def step(): OpRecord = {
      n += 1
      val dir = freshDir(s"op$n")
      val r = op("funnel", s"op$n") {
        Map("report" -> funnel(dir).map(row => row.schema.fieldNames.zip(row.toSeq).toMap))
      }
      releaseCaches()
      r.copy(info = r.info + ("stages" -> cur.stages.map(_.name)))
    }
  }

  // ---------------------------------------------------------------- loops

  /** Driver-bound queries (graph loops, a micro-batch stream) in a fixed
    * order; one op is one query, one round is all of them.
    */
  def driverLoops(): Workload = new Workload {
    private val tables = Paths.get(str("tables"))
    private val queries = (plan \ "queries").extract[Seq[String]]
    private val fns = graft.SparkEntry.queries
    private var dir: String = _
    private var round = 0
    private var next = 0

    private def freshDir(tag: String): String = {
      val d = work.resolve(s"tables/$tag")
      link(tables, d)
      d.toString
    }

    private def call(q: String, d: String): DataFrame = traced(q)(fns(q)(spark, d))

    /** Order-free digest of a result, for comparing ops of one run. */
    private def digest(df: DataFrame): String = {
      val lines = df.collect().map(_.toSeq.mkString("\u0001")).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }

    def setup(rep: Int): Unit = dir = freshDir(s"setup$rep")

    /** One untimed round on the timed corpus. Besides warming the JIT it
      * builds the prior state the loops read, as graft.Bench does before
      * timing: each trade-graph edge set is built by the first query of
      * its shape on a corpus.
      */
    def warmup(): Unit = queries.foreach { q =>
      call(q, dir).write.format("noop").mode("overwrite").save()
      releaseCaches()
    }

    // at least two rounds: one round is a single sample of the op metric
    override def atBoundary: Boolean = next == 0 && round >= 2

    def step(): OpRecord = {
      if (next == 0) round += 1
      val q = queries(next)
      next = (next + 1) % queries.size
      var out: DataFrame = null
      val r = op("query", q) {
        out = call(q, dir)
        traced("force")(out.write.format("noop").mode("overwrite").save())
        Map.empty[String, Any]
      }
      val checked =
        if (r.error.nonEmpty) Map.empty[String, Any]
        else {
          val saved = if (round == 1) {
            val p = work.resolve(s"checks/$q").toString
            out.write.parquet(p)
            p
          } else null
          Map("digest" -> digest(out), "output" -> saved)
        }
      releaseCaches()
      r.copy(info = r.info ++ checked + ("round" -> round))
    }

    override def extra(): Map[String, Any] =
      Map("oracles" -> queries.map(q => q -> graft.SparkEntry.oracleSql.get(q).orNull).toMap)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null              => "null"
    case s: String         => JsonMethods.compact(JString(s))
    case b: Boolean        => b.toString
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number         => n.toString
    case m: Map[_, _]      => m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]    => s.map(write).mkString("[", ",", "]")
    case other             => write(other.toString)
  }
}
