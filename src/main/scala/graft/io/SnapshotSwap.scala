package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Atomic-ish snapshot replacement shared by batch consolidation and
  * the streaming consolidation sink: [[read]] the current snapshot,
  * then [[replace]] it, which writes the new dataset to `<dst>_tmp`
  * and [[promote]]s it. The previous snapshot is moved
  * aside to `<dst>_old` before the promote and deleted only after it
  * succeeds, so no single failure loses both copies.
  *
  * Crash windows leave one of two recoverable states:
  *   - tmp exists, dst intact  → stale tmp, overwritten next run;
  *   - dst missing, _old holds the snapshot (crash between move-aside
  *     and promote) → [[recover]] restores it. [[read]] calls it
  *     before it looks for the snapshot; otherwise a replayed run
  *     reads "no snapshot" and rebuilds from the current batch alone
  *     while the only full copy sits in _old awaiting deletion.
  *
  * The crash-window analysis above assumes O(1) atomic directory
  * rename — true on HDFS and local filesystems, FALSE on object
  * stores (S3A rename is a non-atomic server-side copy + delete, so a
  * crash mid-rename can leave a partially-copied dst that [[recover]]
  * would treat as healthy). [[promote]] rejects known object-store
  * schemes; on such stores use a table format with a metadata-pointer
  * commit instead of directory swaps.
  */
object SnapshotSwap {

  def tmpPath(dst: Path): Path = new Path(dst.toString + "_tmp")
  private def oldPath(dst: Path): Path = new Path(dst.toString + "_old")

  private def must(ok: Boolean, what: String): Unit =
    if (!ok) throw new java.io.IOException(s"snapshot swap failed: $what")

  /** Restore a snapshot stranded in `<dst>_old` by a crash between
    * move-aside and promote. No-op when dst exists or there is
    * nothing to restore.
    */
  def recover(fs: FileSystem, dst: Path): Unit = {
    val old = oldPath(dst)
    if (!fs.exists(dst) && fs.exists(old))
      must(fs.rename(old, dst), s"restore $old to $dst")
  }

  /** The snapshot at `dst`, or None on a first run. Restores a
    * snapshot stranded by a crashed swap first. Only a genuinely
    * absent or empty snapshot means "first run": a pre-created dir
    * without data files (mkdir -p, a lone _SUCCESS) fails schema
    * inference and is one. Any other failure (wrong format, corrupt
    * snapshot, a transient read error) propagates, or the caller would
    * consolidate the new rows alone and its [[replace]] would delete
    * the real snapshot. A snapshot with zero rows is read as one: it
    * unions as no rows, so no job is spent probing for them.
    */
  def read(spark: SparkSession, dst: String, format: String = "parquet"): Option[DataFrame] = {
    val path = new Path(dst)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, path)
    if (!fs.exists(path)) None
    else
      try Some(spark.read.format(format).option("mode", "PERMISSIVE").load(dst))
      catch {
        case e: AnalysisException
            if Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          None
      }
  }

  /** Replaces the snapshot at `dst` with `df` (parquet): writes
    * [[tmpPath]](dst), then [[promote]]s it. `df` may read the old
    * snapshot; it is fully written before the old one moves aside.
    */
  def replace(df: DataFrame, dst: String): Unit = {
    val path = new Path(dst)
    df.write.mode("overwrite").parquet(tmpPath(path).toString)
    promote(path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration), path)
  }

  /** Replace dst with the dataset previously written to
    * [[tmpPath]](dst). Checks every Hadoop rename/delete boolean
    * (they report failure as false, not by throwing).
    */
  private val nonAtomicRenameSchemes = Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss")

  def promote(fs: FileSystem, dst: Path): Unit = {
    val scheme = Option(fs.getUri.getScheme).map(_.toLowerCase).getOrElse("file")
    require(!nonAtomicRenameSchemes.contains(scheme),
      s"SnapshotSwap requires atomic directory rename; '$scheme' renames by copy+delete " +
        "and a mid-rename crash can leave a partial snapshot that recover() cannot detect")
    val tmp = tmpPath(dst)
    val old = oldPath(dst)
    if (fs.exists(old)) must(fs.delete(old, true), s"delete stale $old")
    val hadPrev = fs.exists(dst)
    if (hadPrev) must(fs.rename(dst, old), s"move $dst aside to $old")
    try must(fs.rename(tmp, dst), s"promote $tmp to $dst")
    catch {
      case e: Exception =>
        if (hadPrev && !fs.exists(dst)) fs.rename(old, dst) // restore
        throw e
    }
    if (hadPrev) must(fs.delete(old, true), s"delete previous $old")
  }
}
