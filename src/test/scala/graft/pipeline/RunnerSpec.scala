package graft.pipeline

import java.nio.file.{Files, Path}
import java.time.Instant

import graft.SparkSpec
import graft.io.{BatchDiscovery, Manifest}
import graft.meta.{Metadata, MetadataError}
import org.apache.spark.metrics.source.CodegenMetrics

class RunnerSpec extends SparkSpec {

  private def metaJson(dir: String, out: String) =
    s"""{
       |"dataflows": [{
       |  "name": "docs-flow",
       |  "sources": [
       |    {"name": "docs", "path": "$dir/documents.parquet", "format": "parquet"},
       |    {"name": "absent", "path": "$dir/nope-{date}.parquet", "format": "parquet", "required": false}
       |  ],
       |  "transformations": [
       |    {"name": "with_meta", "type": "add_fields", "params": {
       |      "input": "docs",
       |      "addFields": [
       |        {"name": "source_batch", "function": "batch_id"},
       |        {"name": "processed_run_id", "function": "run_id"},
       |        {"name": "ingestion_dt", "function": "current_timestamp"}]}},
       |    {"name": "validation", "type": "validate_fields", "params": {
       |      "input": "with_meta",
       |      "validations": [{"field": "n_chars", "rules": [{"name": "minValue", "params": 200}]}]}}
       |  ],
       |  "sinks": [
       |    {"input": "validation_ok", "name": "ok", "path": "$out/ok/batch-{date}", "format": "parquet", "saveMode": "overwrite"},
       |    {"input": "validation_ko", "name": "ko", "path": "$out/ko/batch-{date}", "format": "parquet", "saveMode": "overwrite"}
       |  ]
       |}]}""".stripMargin

  test("executes a full flow: sources, transforms, OK/KO sinks") {
    val out = Files.createTempDirectory("graft-runner").toString
    val meta = Metadata.parse(metaJson(sf(), out))
    val result = Runner.runFlow(spark, meta.dataflows.head,
      Runner.RunContext(Some("2025-12-01"), Some("r1"), Map.empty))

    assert(result.report.exists(r => r.name == "absent" && r.status == "skipped"))
    assert(result.report.filter(_.stageType == "sink").forall(_.status == "success"))

    val ok = spark.read.parquet(s"$out/ok/batch-2025-12-01")
    val ko = spark.read.parquet(s"$out/ko/batch-2025-12-01")
    val total = graft.Tables.load(spark, sf(), "documents").count()
    assert(ok.count() + ko.count() == total)
    assert(ok.columns.contains("source_batch") && !ok.columns.contains("validation_errors"))
    assert(ko.columns.contains("validation_errors"))
    assert(ok.select("source_batch").distinct().collect().map(_.getString(0)).toSeq == Seq("2025-12-01"))
  }

  test("missing required input view fails fast") {
    val meta = Metadata.parse(
      """{"dataflows":[{"name":"f","transformations":[
        {"name":"t","type":"add_fields","params":{"input":"ghost",
         "addFields":[{"name":"x","function":"run_id"}]}}]}]}""")
    val e = intercept[MetadataError] {
      Runner.runFlow(spark, meta.dataflows.head, Runner.RunContext(None, None, Map.empty))
    }
    assert(e.getMessage.contains("ghost"))
  }

  test("manifest round-trip and watermark filtering") {
    val dir = Files.createTempDirectory("graft-manifest").toString
    val path = s"$dir/manifest.json"
    assert(Manifest.load(spark, path).isEmpty)
    val m = Manifest.create("p").update("2025-12-01", "r1", "t1").update("2025-12-02", "r2", "t2")
    Manifest.save(spark, m, path)
    val loaded = Manifest.load(spark, path).get
    assert(loaded.lastProcessedBatch.contains("2025-12-02"))
    assert(loaded.processedBatches.map(_.batchDate) == Seq("2025-12-01", "2025-12-02"))
    assert(BatchDiscovery.filterNew(
      Seq("2025-12-01", "2025-12-02", "2025-12-03"), loaded.lastProcessedBatch) == Seq("2025-12-03"))
  }

  test("batch discovery lists date-shaped dirs only") {
    val base = Files.createTempDirectory("graft-batches")
    Seq("batch-2025-12-01", "batch-2025-12-03", "batch-junk", "other").foreach { n =>
      Files.createDirectory(base.resolve(n))
    }
    assert(BatchDiscovery.discover(spark, base.toString, "batch-") ==
      Seq("2025-12-01", "2025-12-03"))
  }

  /** A daily JSON flow shaped like the reference pipeline's: a
    * schema-enforced source, batch_date/run_id/current_timestamp
    * fields, one validation and OK/KO sinks. */
  private def dailyJson(root: Path, okPath: String, koPath: String, koFormat: String = "parquet") =
    s"""{
       |"dataflows": [{
       |  "name": "daily",
       |  "sources": [{"name": "events", "path": "$root/landing/batch-{date}", "format": "json",
       |    "schema_enforcement": {"enabled": true},
       |    "schema": {"type": "struct", "fields": [
       |      {"name": "event_id", "type": "long", "nullable": false},
       |      {"name": "amount", "type": "double", "nullable": true}]}}],
       |  "transformations": [
       |    {"name": "stamped", "type": "add_fields", "params": {"input": "events", "addFields": [
       |      {"name": "batch_date", "function": "batch_date"},
       |      {"name": "run_id", "function": "run_id"},
       |      {"name": "ingested_at", "function": "current_timestamp"}]}},
       |    {"name": "checked", "type": "validate_fields", "params": {"input": "stamped",
       |      "validations": [{"field": "amount", "rules": [{"name": "minValue", "params": 0}]}]}}
       |  ],
       |  "sinks": [
       |    {"input": "checked_ok", "name": "ok", "path": "$okPath", "format": "parquet", "saveMode": "overwrite"},
       |    {"input": "checked_ko", "name": "ko", "path": "$koPath", "format": "$koFormat", "saveMode": "overwrite"}
       |  ]
       |}]}""".stripMargin

  /** Lands batch `date` under `root/landing`: 20 events, every fifth
    * with a negative amount. */
  private def land(root: Path, date: String): Unit = {
    val dir = Files.createDirectories(root.resolve(s"landing/batch-$date"))
    Files.writeString(dir.resolve("part-0.json"), (0 until 20).map { i =>
      s"""{"event_id": $i, "amount": ${if (i % 5 == 0) -1.5 else i * 2.5}}"""
    }.mkString("", "\n", "\n"))
  }

  test("a second batch reuses the first batch's generated code") {
    val root = Files.createTempDirectory("graft-runner-codegen")
    val dates = Seq("2025-03-01", "2025-03-02")
    dates.foreach(land(root, _))
    val flow = Metadata.parse(dailyJson(root,
      s"$root/out/ok/batch-{date}", s"$root/out/ko/batch-{date}")).dataflows.head
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = Instant.now()
    val perBatch = dates.map { d =>
      val c0 = compiles
      Runner.runFlow(spark, flow, Runner.RunContext(Some(d), Some("r1"), Map.empty))
      compiles - c0
    }
    val after = Instant.now()
    assert(perBatch(1) === 0, s"classes compiled per batch: $perBatch")
    for (d <- dates; side <- Seq("ok", "ko")) {
      val rows = spark.read.parquet(s"$root/out/$side/batch-$d")
        .select("batch_date", "ingested_at").collect()
      assert(rows.length === (if (side == "ok") 16 else 4))
      assert(rows.map(_.getDate(0).toString).toSet === Set(d))
      rows.map(_.getTimestamp(1).toInstant).foreach { t =>
        assert(!t.isBefore(before) && !t.isAfter(after), s"ingested_at $t")
      }
    }
  }

  test("a failing sink raises after the other sink committed; the manifest stays put") {
    val root = Files.createTempDirectory("graft-runner-sinkfail")
    val (ok, ko) = (s"$root/out/ok/batch-{date}", s"$root/out/ko/batch-{date}")
    val cfg = IncrementalPipeline.Config(
      inputBaseDir = s"$root/landing", batchPrefix = "batch-",
      manifestPath = s"$root/manifest.json", runId = "r1")
    land(root, "2025-03-01")
    IncrementalPipeline.run(spark, Metadata.parse(dailyJson(root, ok, ko)), cfg)
    land(root, "2025-03-02")
    val broken = Metadata.parse(dailyJson(root, ok, ko, koFormat = "no-such-format"))
    val e = intercept[Exception](IncrementalPipeline.run(spark, broken, cfg.copy(runId = "r2")))
    assert(e.getMessage.contains("no-such-format"))
    assert(Files.exists(root.resolve("out/ok/batch-2025-03-02/_SUCCESS")))
    assert(!Files.exists(root.resolve("out/ko/batch-2025-03-02")))
    assert(Manifest.load(spark, cfg.manifestPath).get.lastProcessedBatch.contains("2025-03-01"))
  }

  test("sinks with nested paths are refused before anything is written") {
    val root = Files.createTempDirectory("graft-runner-nested")
    land(root, "2025-03-01")
    val flow = Metadata.parse(dailyJson(root,
      s"$root/out/batch-{date}", s"$root/out/batch-{date}/ko")).dataflows.head
    val e = intercept[MetadataError] {
      Runner.runFlow(spark, flow, Runner.RunContext(Some("2025-03-01"), None, Map.empty))
    }
    assert(e.getMessage.contains("'ok'") && e.getMessage.contains("'ko'"))
    assert(!Files.exists(root.resolve("out")))
  }
}
