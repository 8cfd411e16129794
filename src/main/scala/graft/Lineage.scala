package graft

import org.apache.spark.sql.DataFrame

/** Optional lineage cut for query results that are eagerly
  * materialized for PERFORMANCE (a small result checkpointed so a
  * cached upstream can be released, or so an iterative consumer does
  * not re-run the producing pipeline once per action).
  *
  * graft cuts lineage in three ways, one per reason:
  *   - performance: [[cut]]. `localCheckpoint()` replaces the logical
  *     plan with a `LogicalRDD` scan, which blinds the plan audit
  *     ([[Explain]]) to every exchange and join beneath it. Setting
  *     `-Dgraft.keepLineage=true` (done by Explain itself) turns these
  *     cuts into no-ops so the full plan is visible; execution stays
  *     correct either way, only slower.
  *   - loop rounds: [[graft.operators.Fixpoint]] cuts every round of
  *     an iterative operator with `localCheckpoint()` and is never
  *     disabled: an uncut round re-runs all the rounds before it.
  *   - correctness: a query that stages data in a temp work dir runs
  *     in [[graft.io.Scratch.scoped]], which cuts the result with
  *     `localCheckpoint()` before the dir is deleted; that cut is never
  *     disabled.
  *
  * Fault-tolerance trade at cluster scale: `localCheckpoint` DROPS the
  * RDD lineage, so losing an executor that holds checkpoint blocks
  * fails the job instead of recomputing. The session conf
  * `spark.graft.lineageCut` picks the strategy of [[cut]]:
  *   - `local` (default) — `localCheckpoint()`: cheapest, right for
  *     local[32] where there is no executor loss;
  *   - `disk` — `persist(StorageLevel.DISK_ONLY)` + eager
  *     materialization: KEEPS lineage so a lost executor recomputes
  *     instead of failing the job — the cluster-mode choice
  *     (declared per environment via RuntimeConfig's
  *     `spark.conf.spark.graft.lineageCut=disk` passthrough; blocks
  *     live until session end, the price of recoverability).
  */
object Lineage {
  def keepLineage: Boolean = java.lang.Boolean.getBoolean("graft.keepLineage")

  def cut(df: DataFrame): DataFrame =
    if (keepLineage) df
    else df.sparkSession.conf.get("spark.graft.lineageCut", "local") match {
      case "disk" =>
        df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        df.count() // materialize now, as localCheckpoint(eager=true) does
        df
      case "local" => df.localCheckpoint()
      case other => throw new IllegalArgumentException(
        s"spark.graft.lineageCut must be 'local' or 'disk', got '$other'")
    }
}
