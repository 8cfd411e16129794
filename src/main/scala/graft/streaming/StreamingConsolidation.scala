package graft.streaming

import graft.operators.{Dedup, Merge}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Streaming incremental consolidation: the streaming twin of
  * IncrementalPipeline's batch consolidation. Arriving records are
  * reduced to keep-newest within each micro-batch, then MERGE-upserted
  * into the consolidated snapshot — exactly the lakehouse
  * "stream into a MERGE sink" pattern via foreachBatch.
  *
  * Scale shape per micro-batch: dedup shuffles at most one row per key
  * per map task (partial max_by), the upsert is one key-co-partitioned
  * full-outer join of snapshot × batch (the batch side broadcasts when
  * small). Snapshot promotion reuses the same write-tmp-then-swap as
  * the batch path, so a mid-write failure never corrupts the readable
  * snapshot; foreachBatch replays the failed micro-batch on restart
  * and the upsert is idempotent (same keys, same winners).
  */
object StreamingConsolidation {

  /** Attach the consolidation sink to a streaming DataFrame. Caller
    * starts/stops the returned writer.
    */
  def sink(
      stream: DataFrame,
      snapshotPath: String,
      keyCol: String,
      orderByCol: String,
      tieBreakerCol: String): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, snapshotPath, keyCol, orderByCol, tieBreakerCol)
      }

  private[streaming] def upsertBatch(
      batch: DataFrame,
      snapshotPath: String,
      keyCol: String,
      orderByCol: String,
      tieBreakerCol: String): Unit = {
    val spark = batch.sparkSession
    val newest = Dedup.keepNewest(
      batch, col(keyCol), col(orderByCol), col(tieBreakerCol))
    val dst = new org.apache.hadoop.fs.Path(snapshotPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash between move-aside and promote leaves the snapshot in
    // _old; restore it BEFORE the exists/read, or the replayed
    // micro-batch rebuilds from itself alone and the promote then
    // deletes the only full copy
    graft.io.SnapshotSwap.recover(fs, dst)
    val merged =
      if (!fs.exists(dst)) newest
      else {
        val existing = spark.read.parquet(snapshotPath)
        // snapshot rows lose to a newer batch row for the same key and
        // survive otherwise; within-batch winners were just resolved
        Dedup.keepNewest(
          existing.unionByName(newest),
          col(keyCol), col(orderByCol), col(tieBreakerCol))
      }
    merged.write.mode("overwrite")
      .parquet(graft.io.SnapshotSwap.tmpPath(dst).toString)
    graft.io.SnapshotSwap.promote(fs, dst)
  }

  // Merge is used by the batch path; the union+keepNewest form above is
  // its order-aware generalization (a plain upsert assumes every batch
  // row is newer than the snapshot row — true for the reference's
  // date-partitioned batches, not for an out-of-order stream). Exposed
  // here so a caller with in-order batches can pick the cheaper join:
  def upsertInOrder(snapshot: DataFrame, batchNewest: DataFrame, keys: Seq[String]): DataFrame =
    Merge.upsert(snapshot, batchNewest, keys)
}
