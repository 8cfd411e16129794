package graft.streaming

import graft.io.SnapshotSwap
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Streaming incremental consolidation: the streaming twin of
  * IncrementalPipeline's batch consolidation. Each micro-batch is
  * unioned with the consolidated snapshot and reduced to keep-newest
  * per key — exactly the lakehouse "stream into a MERGE sink" pattern
  * via foreachBatch. The union+keepNewest form is the order-aware
  * generalization of a plain upsert ([[graft.operators.Merge]]), which
  * assumes every batch row is newer than the snapshot row: true for
  * the reference's date-partitioned batches, not for an out-of-order
  * stream.
  *
  * Scale shape per micro-batch: one keep-newest aggregation over
  * snapshot ∪ batch, which shuffles at most one row per key per map
  * task (partial max_by). The snapshot is read and replaced through
  * the same [[SnapshotSwap]] as the batch path, so a mid-write failure
  * never corrupts the readable snapshot; foreachBatch replays the
  * failed micro-batch on restart and the merge is idempotent (same
  * keys, same winners).
  */
object StreamingConsolidation {

  /** Attach the consolidation sink to a streaming DataFrame. Caller
    * starts/stops the returned writer. The stream's progress lives in
    * `checkpointLocation`: a query started again on it reads only what
    * arrived since, and replays a micro-batch that did not commit.
    */
  def sink(
      stream: DataFrame,
      snapshotPath: String,
      checkpointLocation: String,
      keyCol: String,
      orderByCol: String,
      tieBreakerCol: String): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, snapshotPath, keyCol, orderByCol, tieBreakerCol)
      }

  /** One keep-newest over snapshot ∪ batch: `max_by` over the total
    * (order, tie-breaker) struct is associative, so batch rows need no
    * keep-newest of their own first. Snapshot rows lose to a newer
    * batch row for the same key and survive otherwise.
    */
  private[streaming] def upsertBatch(
      batch: DataFrame,
      snapshotPath: String,
      keyCol: String,
      orderByCol: String,
      tieBreakerCol: String): Unit = {
    val rows = SnapshotSwap.read(batch.sparkSession, snapshotPath)
      .fold(batch)(_.unionByName(batch))
    SnapshotSwap.replace(
      Dedup.keepNewest(rows, col(keyCol), col(orderByCol), col(tieBreakerCol)),
      snapshotPath)
  }
}
