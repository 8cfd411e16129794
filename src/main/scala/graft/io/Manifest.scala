package graft.io

import java.io.IOException
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Processed-batch manifest: the pipeline's incremental-processing
  * state (reference utils/processed_batches_tracker.py).
  *
  * Stored as one small JSON object on any Hadoop filesystem (local in
  * tests, s3a/hdfs on a cluster) — driver-side metadata, never a
  * Spark job.
  */
final case class BatchRecord(batchDate: String, runId: String, processedAt: String)

final case class Manifest(
    pipelineName: String,
    lastProcessedBatch: Option[String],
    processedBatches: Seq[BatchRecord]) {

  def update(batchDate: String, runId: String, processedAt: String): Manifest = {
    val last = lastProcessedBatch match {
      case Some(l) if l >= batchDate => l
      case _                         => batchDate
    }
    copy(
      lastProcessedBatch = Some(last),
      processedBatches = processedBatches :+ BatchRecord(batchDate, runId, processedAt))
  }

  def toJson: String = {
    def q(s: String) = JsonMethods.compact(JString(s))
    val recs = processedBatches.map(r =>
      s"""{"batch_date":${q(r.batchDate)},"run_id":${q(r.runId)},"processed_at":${q(r.processedAt)}}""")
    s"""{"pipeline_name":${q(pipelineName)},""" +
      s""""last_processed_batch":${lastProcessedBatch.map(q).getOrElse("null")},""" +
      s""""processed_batches":[${recs.mkString(",")}]}"""
  }
}

object Manifest {

  def create(pipelineName: String): Manifest = Manifest(pipelineName, None, Seq.empty)

  def fromJson(json: String): Manifest = {
    val root = JsonMethods.parse(json)
    def s(v: JValue): Option[String] = v match { case JString(x) => Some(x); case _ => None }
    Manifest(
      pipelineName = s(root \ "pipeline_name").getOrElse("pipeline"),
      lastProcessedBatch = s(root \ "last_processed_batch"),
      processedBatches = (root \ "processed_batches") match {
        case JArray(xs) => xs.flatMap { r =>
          for {
            d <- s(r \ "batch_date")
            run <- s(r \ "run_id")
          } yield BatchRecord(d, run, s(r \ "processed_at").getOrElse(""))
        }
        case _ => Seq.empty
      })
  }

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The manifest at `path`, `None` if there is none. A file that does
    * not parse (empty, or cut short by a crash mid-write) raises an
    * error naming the path: treating it as absent would reprocess every
    * batch. */
  def load(spark: SparkSession, path: String): Option[Manifest] = {
    val p = new Path(path)
    val filesystem = fs(spark, p)
    if (!filesystem.exists(p)) None
    else {
      val in = filesystem.open(p)
      val json = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      try Some(fromJson(json))
      catch { case NonFatal(e) =>
        throw new IOException(s"manifest $path cannot be parsed: ${e.getMessage}", e)
      }
    }
  }

  def save(spark: SparkSession, manifest: Manifest, path: String): Unit = {
    val p = new Path(path)
    val out = fs(spark, p).create(p, true)
    try out.write(manifest.toJson.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
