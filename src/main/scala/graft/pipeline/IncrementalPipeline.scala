package graft.pipeline

import graft.Concurrently
import graft.io.{BatchDiscovery, Manifest, SinkWriter, SourceReader}
import graft.meta.PipelineMeta
import graft.operators.Consolidator
import org.apache.spark.sql.SparkSession

/** End-to-end incremental pipeline orchestration — the library
  * equivalent of the reference's run_pipeline loop
  * (pipeline/runner.py:95-504): discover input batches, reject
  * everything at or before the manifest watermark, execute every
  * dataflow per new batch, advance the manifest after each batch, and
  * consolidate at the end.
  *
  * The new batches run in windows of at most the session's
  * `defaultParallelism` batches, and never more than [[MaxWindow]].
  * Each batch of a window runs its dataflows, in their declared order,
  * on its own thread ([[graft.Concurrently]]), and its Spark jobs carry
  * the job description `batch <date>`. A batch's sinks are often
  * one-task jobs, so side by side the batches of a backfill fill the
  * cores that one batch leaves idle.
  *
  * The manifest advances in batch order. Once every batch of a window
  * has ended, the window's batches are committed (`Manifest.save`) in
  * date order up to the first one that failed. The run then raises that
  * batch's error, with the other batches' failures attached as
  * suppressed, and does not consolidate. So the watermark never covers
  * a failed batch or one after it, and a re-run starts at the first
  * failed batch. Two things follow that a one-at-a-time run does not
  * show. Batches after the failed one may have written their sinks, so
  * their per-batch outputs sit on disk beyond the watermark until the
  * re-run writes them again. And nothing of a window is committed
  * before all of it has ended: if the driver dies mid-window, batches
  * of it that had already finished are processed again by the next run.
  *
  * That re-run is only safe when writing a batch again is idempotent
  * and the batches of a window do not touch each other's files. The
  * metadata decides, not an option: a window is wider than one batch
  * only when every sink of every flow uses `saveMode` `overwrite`, and
  * no resolved sink path of one batch equals or lies under (or over)
  * a sink or source path of another batch of the window (the test of
  * [[SinkWriter.writeAll]]'s nested-sink check, on resolved path
  * strings). Otherwise, e.g. with an `append` sink or a sink path
  * without `{date}`, the batches run one at a time and the first
  * failure stops the run. A one-batch window, such as a daily arrival,
  * runs on the calling thread.
  *
  * Storage-agnostic: batch discovery, manifest, and sinks all go
  * through the Hadoop FS API (local paths in tests, s3a/hdfs/gs on a
  * cluster).
  */
object IncrementalPipeline {

  final case class Config(
      inputBaseDir: String,
      batchPrefix: String,
      manifestPath: String,
      runId: String,
      substitutions: Map[String, String] = Map.empty)

  final case class BatchRun(batchDate: String, report: Seq[Runner.StageReport])

  final case class RunResult(
      processedBatches: Seq[String],
      rejectedBatches: Seq[String],
      batchRuns: Seq[BatchRun],
      consolidation: Option[String],
      manifest: Manifest)

  def run(spark: SparkSession, meta: PipelineMeta, config: Config): RunResult = {
    val manifest0 = Manifest.load(spark, config.manifestPath)
      .getOrElse(Manifest.create("pipeline"))

    val all = BatchDiscovery.discover(spark, config.inputBaseDir, config.batchPrefix)
    val newBatches = BatchDiscovery.filterNew(all, manifest0.lastProcessedBatch)
    val rejected = all.diff(newBatches)

    var manifest = manifest0
    def commit(batchDate: String): Unit = {
      manifest = manifest.update(batchDate, config.runId, java.time.Instant.now().toString)
      Manifest.save(spark, manifest, config.manifestPath)
    }
    val runs = windows(spark, meta, config, newBatches).flatMap {
      case Seq(batchDate) =>
        val run = runBatch(spark, meta, config, batchDate)
        commit(batchDate)
        Seq(run)
      case window =>
        val outcomes = Concurrently.attempt(window.map { batchDate =>
          s"graft-batch-$batchDate" -> (() => runBatch(spark, meta, config, batchDate))
        })
        // the watermark stops before the window's first failed batch
        window.zip(outcomes).takeWhile(_._2.isRight).foreach { case (batchDate, _) =>
          commit(batchDate)
        }
        Concurrently.results(outcomes)
    }

    val consolidated = meta.consolidation.filter(_.enabled).map { c =>
      val subs = SourceReader.Substitutions(config.substitutions)
      // orderBy ties resolve by the metadata tie_breaker when given;
      // falling back to the key column means arbitrary tie order (the
      // reference's ROW_NUMBER behavior) — declare tie_breaker for
      // deterministic consolidation
      val result = Consolidator.consolidateFromPaths(
        spark, c.copy(inputPattern = subs(c.inputPattern), outputPath = subs(c.outputPath)),
        format = "parquet", tieBreaker = c.dedup.tieBreaker.getOrElse(c.dedup.keyColumn))
      val out = subs(c.outputPath)
      // overwrite-in-place would read and clobber the same path; write
      // via a temp dir then swap (same pattern as the reference's
      // consolidated bucket rewrite, made atomic-ish for Hadoop FS) —
      // see SnapshotSwap for the crash-window guarantees
      graft.io.SnapshotSwap.replace(result.df, out)
      s"${result.mode} -> $out"
    }

    RunResult(newBatches, rejected, runs, consolidated, manifest)
  }

  private def context(config: Config, batchDate: String) =
    Runner.RunContext(Some(batchDate), Some(config.runId), config.substitutions)

  /** Runs every dataflow of one batch, its jobs described as
    * `batch <date>`. */
  private def runBatch(
      spark: SparkSession, meta: PipelineMeta, config: Config, batchDate: String): BatchRun = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"batch $batchDate")
    try {
      val ctx = context(config, batchDate)
      BatchRun(batchDate, meta.dataflows.flatMap(flow => Runner.runFlow(spark, flow, ctx).report))
    } finally sc.setJobDescription(previous)
  }

  /** The most batches a window holds, whatever `defaultParallelism`
    * says: each batch of a window holds its own plans on the driver and
    * one thread per sink, and once batches are big enough to fill the
    * cores a wider window only adds driver load. Measured only at 3
    * batches on 4 cores, where every sink job is a one-task job. */
  val MaxWindow = 4

  /** `newBatches` in windows of at most `defaultParallelism` and at most
    * [[MaxWindow]] batches; a window whose batches may not run together
    * becomes one window per batch. */
  private def windows(
      spark: SparkSession, meta: PipelineMeta, config: Config,
      newBatches: Seq[String]): Seq[Seq[String]] =
    newBatches.grouped(math.min(spark.sparkContext.defaultParallelism, MaxWindow)).toSeq
      .flatMap { w =>
        if (mayRunTogether(spark, meta, config, w)) Seq(w) else w.map(Seq(_))
      }

  /** Every sink overwrites, and no batch's resolved sink path equals or
    * nests with another batch's sink or source path. */
  private def mayRunTogether(
      spark: SparkSession, meta: PipelineMeta, config: Config, window: Seq[String]): Boolean = {
    val sinks = meta.dataflows.flatMap(_.sinks)
    val sources = meta.dataflows.flatMap(_.sources)
    window.size > 1 && sinks.forall(_.saveMode.equalsIgnoreCase("overwrite")) && {
      val paths = window.map { batchDate =>
        val subs = context(config, batchDate).subs
        def resolved(path: String) = SinkWriter.qualified(spark, subs(path))
        (sinks.map(s => resolved(s.path)), sources.map(s => resolved(s.path)))
      }
      paths.combinations(2).forall { case Seq((sinksA, sourcesA), (sinksB, sourcesB)) =>
        sinksA.forall(a => (sinksB ++ sourcesB).forall(!SinkWriter.overlaps(a, _))) &&
          sinksB.forall(b => sourcesA.forall(!SinkWriter.overlaps(b, _)))
      }
    }
  }
}
