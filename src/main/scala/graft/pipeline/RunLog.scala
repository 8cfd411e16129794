package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s.JString
import org.json4s.jackson.JsonMethods

/** Structured JSON run log (reference utils/json_logger.py): one JSON
  * document per run with stages and sub-stages, written to any Hadoop
  * filesystem. Driver-side metadata — never a Spark job.
  */
object RunLog {

  private def q(s: String): String = JsonMethods.compact(JString(s))

  def stageJson(r: Runner.StageReport): String = {
    val detail = r.detail.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
    s"""{"name": ${q(r.name)}, "stage_type": ${q(r.stageType)}, """ +
      s""""status": ${q(r.status)}, "detail": {$detail}}"""
  }

  def toJson(runId: String, result: IncrementalPipeline.RunResult): String = {
    val batches = result.batchRuns.map { br =>
      s"""{"batch_date": ${q(br.batchDate)}, "sub_stages": [${br.report.map(stageJson).mkString(", ")}]}"""
    }
    s"""{
       |  "run_id": ${q(runId)},
       |  "processed_batches": [${result.processedBatches.map(q).mkString(", ")}],
       |  "rejected_batches": [${result.rejectedBatches.map(q).mkString(", ")}],
       |  "last_processed_batch": ${result.manifest.lastProcessedBatch.map(q).getOrElse("null")},
       |  "consolidation": ${result.consolidation.map(q).getOrElse("null")},
       |  "batches": [${batches.mkString(", ")}]
       |}""".stripMargin
  }

  def write(spark: SparkSession, path: String, json: String): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
