package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.meta.Metadata
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** End-to-end incremental flow mirroring the reference's full
  * run_pipeline behavior: batch discovery, watermark rejection,
  * per-batch dataflow execution, manifest advancement, full-then-
  * incremental consolidation, and idempotent re-runs.
  */
class IncrementalPipelineSpec extends SparkSpec {

  private def metaJson(base: String, out: String) =
    s"""{
       |"processing_mode": "incremental",
       |"dataflows": [{
       |  "name": "docs-flow",
       |  "sources": [{"name": "docs", "path": "$base/batch-{date}", "format": "parquet"}],
       |  "transformations": [
       |    {"name": "with_meta", "type": "add_fields", "params": {
       |      "input": "docs",
       |      "addFields": [
       |        {"name": "batch_date", "function": "batch_date"},
       |        {"name": "processed_run_id", "function": "run_id"}]}},
       |    {"name": "validation", "type": "validate_fields", "params": {
       |      "input": "with_meta",
       |      "validations": [{"field": "n_chars", "rules": ["notNull", {"name": "minValue", "params": 100}]}]}}
       |  ],
       |  "sinks": [
       |    {"input": "validation_ok", "name": "ok", "path": "$out/ok/batch-{date}", "format": "parquet", "saveMode": "overwrite"},
       |    {"input": "validation_ko", "name": "ko", "path": "$out/ko/batch-{date}", "format": "parquet", "saveMode": "overwrite"}
       |  ]
       |}],
       |"consolidation": {
       |  "enabled": true,
       |  "ok_records": {
       |    "input_pattern": "$out/ok/batch-*",
       |    "output_path": "$out/consolidated",
       |    "deduplication": {"enabled": true, "key_column": "doc_id",
       |      "order_by": "batch_date", "order_direction": "DESC"}}}
       |}""".stripMargin

  private def writeBatch(base: String, date: String, ids: Range, marker: String): Unit = {
    graft.Tables.load(spark, sf(), "documents")
      .filter(col("doc_id").isin(ids: _*))
      .withColumn("source", lit(marker))
      .write.mode(SaveMode.Overwrite).parquet(s"$base/batch-$date")
  }

  test("discover -> filter -> run -> manifest -> consolidate, incrementally") {
    withTempDir("graft-e2e") { tmp =>
      val root = tmp.toString
      val base = s"$root/input"
      val out = s"$root/out"
      val meta = Metadata.parse(metaJson(base, out))
      val config = IncrementalPipeline.Config(
        inputBaseDir = base, batchPrefix = "batch-",
        manifestPath = s"$root/manifest.json", runId = "run-1")

      writeBatch(base, "2025-12-01", 0 until 60, "b1")
      writeBatch(base, "2025-12-02", 40 until 100, "b2")

      // --- run 1: both batches processed, full consolidation
      val r1 = IncrementalPipeline.run(spark, meta, config)
      assert(r1.processedBatches == Seq("2025-12-01", "2025-12-02"))
      assert(r1.manifest.lastProcessedBatch.contains("2025-12-02"))
      assert(r1.consolidation.exists(_.startsWith("full")))

      val consolidated1 = spark.read.parquet(s"$out/consolidated")
      val okDocs = graft.Tables.load(spark, sf(), "documents")
        .filter(col("doc_id") < 100 && col("n_chars") >= 100)
      assert(consolidated1.count() == okDocs.count())
      // overlapping ids (40..59) must carry batch 2's marker
      val overlap = consolidated1.filter(col("doc_id") === 45 && col("n_chars") >= 100)
        .select("source").collect().map(_.getString(0))
      assert(overlap.forall(_ == "b2"))

      // --- run 2: nothing new; both batches rejected by the watermark
      val r2 = IncrementalPipeline.run(spark, meta, config.copy(runId = "run-2"))
      assert(r2.processedBatches.isEmpty)
      assert(r2.rejectedBatches == Seq("2025-12-01", "2025-12-02"))

      // --- batch 3 arrives, overlapping again: incremental consolidation
      writeBatch(base, "2025-12-03", 80 until 120, "b3")
      val r3 = IncrementalPipeline.run(spark, meta, config.copy(runId = "run-3"))
      assert(r3.processedBatches == Seq("2025-12-03"))
      assert(r3.consolidation.exists(_.startsWith("incremental")))

      val consolidated2 = spark.read.parquet(s"$out/consolidated")
      val okDocs2 = graft.Tables.load(spark, sf(), "documents")
        .filter(col("doc_id") < 120 && col("n_chars") >= 100)
      assert(consolidated2.count() == okDocs2.count())
      val overlap2 = consolidated2.filter(col("doc_id") === 90 && col("n_chars") >= 100)
        .select("source").collect().map(_.getString(0))
      assert(overlap2.forall(_ == "b3"))

      // structured run log round-trips as valid JSON-ish content
      val log = RunLog.toJson("run-3", r3)
      RunLog.write(spark, s"$root/log.json", log)
      assert(log.contains("\"last_processed_batch\": \"2025-12-03\""))
      assert(log.contains("incremental"))
      // the escape covers every control char, the quote and the
      // backslash: the whole log parses, and a hostile detail value
      // parses back equal
      import org.json4s._
      import org.json4s.jackson.JsonMethods.parse
      parse(log)
      val hostile = "tab\tcr\rsoh\u0001quote\"backslash\\"
      val stage = RunLog.stageJson(Runner.StageReport("s", "t", "ok", Map("k" -> hostile)))
      assert(parse(stage) \ "detail" \ "k" === JString(hostile))
    }
  }
}
