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
    * outputs, read existing consolidated output if present (see
    * [[graft.io.SnapshotSwap.read]] for what counts as present).
    */
  def consolidateFromPaths(
      spark: SparkSession,
      cfg: ConsolidationDef,
      format: String,
      tieBreaker: String): Result = {
    val batches = spark.read.format(format).option("mode", "PERMISSIVE").load(cfg.inputPattern)
    val existing = graft.io.SnapshotSwap.read(spark, cfg.outputPath, format)
    consolidate(batches, existing, cfg, tieBreaker)
  }
}
