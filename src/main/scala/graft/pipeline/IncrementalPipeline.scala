package graft.pipeline

import graft.io.{BatchDiscovery, Manifest, SourceReader}
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
    val runs = newBatches.map { batchDate =>
      val ctx = Runner.RunContext(
        Some(batchDate), Some(config.runId), config.substitutions)
      val reports = meta.dataflows.map(flow => Runner.runFlow(spark, flow, ctx))
      // watermark advances only after the batch fully succeeded —
      // a failure leaves the manifest pointing at the last good batch,
      // so the re-run reprocesses exactly the failed batch onward
      manifest = manifest.update(batchDate, config.runId,
        java.time.Instant.now().toString)
      Manifest.save(spark, manifest, config.manifestPath)
      BatchRun(batchDate, reports.flatMap(_.report))
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
}
