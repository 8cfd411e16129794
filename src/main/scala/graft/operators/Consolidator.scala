package graft.operators

import graft.meta.ConsolidationDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Consolidation of per-batch outputs into a deduplicated dataset
  * (reference pipeline/consolidator.py).
  *
  * Full mode: read every per-batch output, keep the newest row per key.
  * Incremental mode: union the existing consolidated dataset with the
  * new batches and re-dedup — the union is cheap (no shuffle) and the
  * dedup aggregation shuffles at most one row per key per map task
  * (see [[Dedup.keepNewest]]).
  */
object Consolidator {

  final case class Result(df: DataFrame, mode: String)

  def dedup(df: DataFrame, cfg: ConsolidationDef, tieBreaker: String): DataFrame =
    Dedup.keepNewest(
      df,
      key = col(cfg.dedup.keyColumn),
      orderBy = col(cfg.dedup.orderBy),
      tieBreaker = col(tieBreaker),
      descending = cfg.dedup.orderDirection.equalsIgnoreCase("DESC"))

  /** Consolidate `newBatches` with an optionally pre-existing
    * consolidated dataset. Column sets must match (reference assumes
    * identical schemas; we enforce by name to fail fast).
    */
  def consolidate(
      newBatches: DataFrame,
      existing: Option[DataFrame],
      cfg: ConsolidationDef,
      tieBreaker: String): Result = {
    if (!cfg.dedup.enabled)
      return Result(existing.map(_.unionByName(newBatches)).getOrElse(newBatches), "append")
    existing match {
      case Some(prev) =>
        Result(dedup(prev.unionByName(newBatches), cfg, tieBreaker), "incremental")
      case None =>
        Result(dedup(newBatches, cfg, tieBreaker), "full")
    }
  }

  /** Path-based entry matching the reference flow: glob-read per-batch
    * outputs, read existing consolidated output if present.
    */
  def consolidateFromPaths(
      spark: SparkSession,
      cfg: ConsolidationDef,
      format: String,
      tieBreaker: String): Result = {
    val batches = spark.read.format(format).option("mode", "PERMISSIVE").load(cfg.inputPattern)
    // only a genuinely absent/empty output means "first run" — a
    // transient read error must propagate, or incremental
    // consolidation silently degrades to new-batches-only and
    // overwrites the existing dataset. A pre-created-but-empty dir
    // (mkdir -p, lone _SUCCESS) fails schema inference and IS a first
    // run; restore any snapshot stranded by a crashed swap first. A
    // snapshot with zero rows is read as one: it unions as no rows, so
    // no job is spent probing for them.
    val outPath = new org.apache.hadoop.fs.Path(cfg.outputPath)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.SnapshotSwap.recover(fs, outPath)
    val existing =
      if (!fs.exists(outPath)) None
      else
        try Some(spark.read.format(format).option("mode", "PERMISSIVE").load(cfg.outputPath))
        catch {
          // ONLY the no-data-files condition means first run; any other
          // analysis failure (wrong format, corrupt snapshot) must
          // fail loudly — degrading would consolidate new batches
          // alone and the caller's swap would delete the real snapshot
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
            None
        }
    consolidate(batches, existing, cfg, tieBreaker)
  }
}
