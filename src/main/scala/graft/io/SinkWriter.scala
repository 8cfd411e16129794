package graft.io

import graft.Concurrently
import graft.meta.{MetadataError, SinkDef}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata-driven sink writing (reference pipeline/sink.py:write_df),
  * extended with partitioned layout — at scale, partitioning the output
  * by e.g. batch date is what makes downstream incremental reads prune.
  *
  * When the sink declares `targetFileMB`, output is bin-packed before
  * the write so each partition directory receives
  * ceil(partition bytes / target) files instead of
  * (upstream tasks × partition values) — the classic small-file
  * blowup of partitioned writes at scale (1000 tasks × 365 days =
  * 365k tiny files per year, written once and listed forever).
  */
object SinkWriter {

  /** Writes one batch's sinks side by side and returns their resolved
    * paths in declared order. A batch sink is often a one-task job (one
    * file per batch), so writing the sinks one after the other leaves
    * the other cores idle.
    *
    * Each sink writes on its own thread ([[graft.Concurrently]]), which
    * inherits the caller's Spark local properties. The call returns or
    * raises only after every write has ended. On failure it raises the
    * first failing sink's error in declared order, with the other
    * sinks' errors attached as suppressed.
    *
    * Two sinks whose resolved paths are equal or nested are refused
    * before anything is written: concurrent Hadoop commits into one
    * directory share its `_temporary/` and would corrupt each other.
    */
  def writeAll(sinks: Seq[(DataFrame, SinkDef)], subs: SourceReader.Substitutions): Seq[String] = {
    requireDisjoint(sinks, subs)
    Concurrently.results(Concurrently.attempt(sinks.map { case (df, sink) =>
      s"graft-sink-${sink.name}" -> (() => write(df, sink, subs))
    }))
  }

  private def requireDisjoint(
      sinks: Seq[(DataFrame, SinkDef)], subs: SourceReader.Substitutions): Unit = {
    val resolved = sinks.map { case (df, sink) =>
      val raw = subs(sink.path)
      require(raw.nonEmpty, "sink path must be a non-empty string")
      sink -> qualified(df.sparkSession, raw)
    }
    resolved.combinations(2).foreach { case Seq((a, pa), (b, pb)) =>
      if (overlaps(pa, pb))
        throw new MetadataError(s"sinks '${a.name}' ($pa) and '${b.name}' ($pb) " +
          "write to the same or nested paths; sinks of one batch write concurrently " +
          "and must not share a directory")
    }
  }

  /** `path` qualified by its filesystem, without a trailing slash: the
    * form [[overlaps]] compares. */
  private[graft] def qualified(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
      .stripSuffix("/")
  }

  /** Whether two [[qualified]] paths are equal or one lies under the other. */
  private[graft] def overlaps(a: String, b: String): Boolean =
    a == b || a.startsWith(b + "/") || b.startsWith(a + "/")

  def write(df: DataFrame, sink: SinkDef, subs: SourceReader.Substitutions): String = {
    val path = subs(sink.path)
    require(path.nonEmpty, "sink path must be a non-empty string")
    val out = sink.targetFileMB.fold(df)(compact(df, sink.partitionBy, _))
    val w = out.write.format(sink.format).mode(sink.saveMode)
    val partitioned = if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*) else w
    partitioned.save(path)
    path
  }

  /** Deterministic bin-pack: a sizing aggregation computes each
    * partition value's byte weight (serialized-row estimate), every
    * row hashes into one of its value's ceil(bytes/target) bins, and
    * one repartition on (partition cols, bin) co-locates each bin.
    * A hash repartition may MERGE groups into one task (fine — the
    * writer emits one file per directory per task) but never SPLITS
    * one, so files-per-directory ≤ bins(value) exactly. This is what
    * AQE's rebalance-with-skew-split cannot promise: it splits hot
    * shuffle partitions by map-output RANGE, not by key, fragmenting
    * any small partition value that hashed next to a hot one.
    *
    * Cost: one extra aggregation pass over the input (keys + one sum —
    * a narrow codegen scan) bought against every future list/open of
    * the output; at 100 TB, table statistics or the metastore can
    * replace the pass. The byte estimate is the uncompressed
    * serialized row, so parquet files land at-or-below target —
    * conservative in the direction that never recreates the blowup.
    */
  private[io] def compact(df: DataFrame, partitionBy: Seq[String], targetMB: Int): DataFrame = {
    val targetBytes = targetMB.toDouble * 1024 * 1024
    val rowBytes = octet_length(to_json(struct(df.columns.toSeq.map(col): _*)))
    if (partitionBy.isEmpty) {
      val total = df.agg(coalesce(sum(rowBytes.cast("long")), lit(0L))).head().getLong(0)
      df.repartition(math.max(1, math.ceil(total / targetBytes).toInt))
    } else {
      Seq("__bins", "__bin").foreach { r =>
        require(!df.columns.contains(r), s"column name $r is reserved by sink compaction")
      }
      val sz = df.groupBy(partitionBy.map(col): _*)
        .agg(sum(rowBytes.cast("long")).as("__part_bytes"))
        .select(
          partitionBy.map(c => col(c).as(s"__k_$c")) :+
            greatest(lit(1L), ceil(col("__part_bytes") / targetBytes).cast("long"))
              .as("__bins"): _*)
        .localCheckpoint() // tiny (one row per partition value); sized twice below
      // coalesce: an empty input (routine for incremental runs with no
      // new data) must write an empty sink, not NPE on a null sum
      val totalBins = sz.agg(coalesce(sum(col("__bins")), lit(0L))).head().getLong(0)
      // null-safe: NULL partition values still get their directory
      val cond = partitionBy.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
      df.join(broadcast(sz), cond)
        .withColumn("__bin", pmod(hash(df.columns.toSeq.map(col): _*), col("__bins")))
        .repartition(math.max(1, totalBins).toInt,
          partitionBy.map(col) :+ col("__bin"): _*)
        .drop("__bin" +: "__bins" +: partitionBy.map(c => s"__k_$c"): _*)
    }
  }
}
