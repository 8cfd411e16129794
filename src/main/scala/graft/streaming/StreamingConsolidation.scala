package graft.streaming

import graft.io.SnapshotSwap
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Streaming incremental consolidation: the streaming twin of
  * IncrementalPipeline's batch consolidation, and the one way a
  * stream keeps state in a snapshot. Each micro-batch's partial is
  * unioned with the snapshot and combined — for keep-newest, exactly
  * the lakehouse "stream into a MERGE sink" pattern via foreachBatch.
  * The union+keepNewest form is the order-aware generalization of a
  * plain upsert ([[graft.operators.Merge]]), which assumes every batch
  * row is newer than the snapshot row: true for the reference's
  * date-partitioned batches, not for an out-of-order stream.
  *
  * Scale shape per micro-batch: one combine over snapshot ∪ partial;
  * for keep-newest that shuffles at most one row per key per map task
  * (partial max_by). The snapshot is read and replaced through the
  * same [[SnapshotSwap]] as the batch path, so a mid-write failure
  * never corrupts the readable snapshot.
  */
object StreamingConsolidation {

  /** The foreachBatch body of the snapshot fold: the snapshot at
    * `snapshotPath` becomes `combine(snapshot ∪ partial(batch))`, or
    * `combine(partial(batch))` on the first micro-batch.
    *
    * Replay safety: a micro-batch whose snapshot was replaced but
    * whose checkpoint commit was not is re-delivered on restart and
    * folded again. An idempotent combine such as [[keepNewest]] (same
    * keys, same winners) absorbs that; an additive combine (sums,
    * counts) counts the re-delivered micro-batch twice; state held in
    * driver memory instead would lose every earlier micro-batch on
    * restart.
    */
  def fold(snapshotPath: String, partial: DataFrame => DataFrame = identity)(
      combine: DataFrame => DataFrame): (DataFrame, Long) => Unit = { (batch, _) =>
    val delta = partial(batch)
    val rows = SnapshotSwap.read(batch.sparkSession, snapshotPath)
      .fold(delta)(_.unionByName(delta))
    SnapshotSwap.replace(combine(rows), snapshotPath)
  }

  /** Keep-newest per key as a [[fold]] combine: `max_by` over the
    * total (order, tie-breaker) struct is associative, so batch rows
    * need no keep-newest of their own first. Snapshot rows lose to a
    * newer batch row for the same key and survive otherwise.
    */
  def keepNewest(keyCol: String, orderByCol: String, tieBreakerCol: String): DataFrame => DataFrame =
    Dedup.keepNewest(_, col(keyCol), col(orderByCol), col(tieBreakerCol))
}
