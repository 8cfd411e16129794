package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch-directory allocation for queries that stage intermediate
  * tables (versioned lakehouse commits, streaming batch splits,
  * persisted signature/vector indexes).
  *
  * On a cluster, set `spark.graft.scratchDir` to any Hadoop-FS URI
  * (s3a://bucket/tmp, hdfs:///tmp/graft, ...) and every staging query
  * allocates a unique subdirectory there through the Hadoop
  * FileSystem API — nothing touches the driver's local disk. Unset
  * (the local default), it falls back to a java temp dir so
  * local[N] runs need no configuration.
  *
  * Two lifetimes, one entry point each:
  *   - a query that stages data, computes its answer from it and is
  *     done with it runs inside [[scoped]]: the dir lives exactly as
  *     long as the query's body;
  *   - a session-lifetime artifact ([[Artifacts]]) allocates with
  *     [[dirAutoCleaned]]: the dir outlives the query that built it
  *     and is reaped at JVM exit.
  *
  * Mirrors the reference's bucket-rooted staging layout
  * (utils/json_logger.py:94-139 routes run artifacts under a
  * configured base URI) without binding to any one store.
  */
object Scratch {
  val ConfKey = "spark.graft.scratchDir"

  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** Runs `body` in a fresh scratch dir and returns its result
    * materialized; the dir is deleted afterwards, also when `body`
    * throws. The cut is a plain `localCheckpoint()`, never
    * [[graft.Lineage.cut]]: the result's plan reads files of a dir
    * that is gone once this returns, so the rows must exist outside it
    * under every lineage mode (`graft.keepLineage`, which disables
    * performance cuts, and `spark.graft.lineageCut=disk`, which keeps
    * the plan). No shutdown hook is registered: the `finally` is the
    * cleanup.
    */
  def scoped(spark: SparkSession, prefix: String)(body: String => DataFrame): DataFrame = {
    val work = new Path(dir(spark, prefix))
    try body(work.toString).localCheckpoint()
    finally work.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(work, true)
  }

  /** [[dir]] plus a JVM shutdown hook that deletes it, for session-
    * lifetime artifacts only (each call adds a hook that lives until
    * the JVM exits). The hook is registered at ALLOCATION time, before
    * the caller writes anything, so a failed or interrupted build
    * cannot leak the directory — a retry allocates a fresh dir and the
    * half-written one is still reaped at JVM exit.
    */
  def dirAutoCleaned(spark: SparkSession, prefix: String): String = {
    val work = dir(spark, prefix)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    sys.addShutdownHook {
      val p = new Path(work)
      try p.getFileSystem(hadoopConf).delete(p, true)
      catch { case _: Throwable => () }
    }
    work
  }

  /** A fresh, existing directory unique to this call. */
  def dir(spark: SparkSession, prefix: String): String =
    spark.conf.getOption(ConfKey) match {
      case Some(base) =>
        // appId + a process-local counter keeps concurrent sessions
        // and repeated calls from colliding without relying on UUID
        // randomness (deterministic paths ease post-run inspection).
        val unique = s"$prefix${spark.sparkContext.applicationId}-${counter.incrementAndGet()}"
        val p = new Path(base, unique)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(p)
        fs.makeQualified(p).toString
      case None =>
        java.nio.file.Files.createTempDirectory(prefix).toString
    }
}
