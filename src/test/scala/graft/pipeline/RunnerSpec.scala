package graft.pipeline

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.io.{BatchDiscovery, Manifest}
import graft.meta.{Metadata, MetadataError}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.Row

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
    withTempDir("graft-runner") { tmp =>
      val out = tmp.toString
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
    withTempDir("graft-manifest") { tmp =>
      val dir = tmp.toString
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
  }

  test("batch discovery lists date-shaped dirs only") {
    withTempDir("graft-batches") { base =>
      Seq("batch-2025-12-01", "batch-2025-12-03", "batch-junk", "other").foreach { n =>
        Files.createDirectory(base.resolve(n))
      }
      assert(BatchDiscovery.discover(spark, base.toString, "batch-") ==
        Seq("2025-12-01", "2025-12-03"))
    }
  }

  /** A daily JSON flow shaped like the reference pipeline's: a
    * schema-enforced source, batch_date/run_id/current_timestamp
    * fields, one validation and OK/KO sinks. `failFast` makes a
    * malformed source line fail the batch; `consolidate` adds a
    * keep-newest consolidation of the OK outputs by event_id. */
  private def dailyJson(
      root: Path, okPath: String, koPath: String, koFormat: String = "parquet",
      koSaveMode: String = "overwrite", failFast: Boolean = false, consolidate: Boolean = false) =
    s"""{
       |"dataflows": [{
       |  "name": "daily",
       |  "sources": [{"name": "events", "path": "$root/landing/batch-{date}", "format": "json",
       |    ${if (failFast) """"options": {"mode": "FAILFAST"},""" else ""}
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
       |    {"input": "checked_ko", "name": "ko", "path": "$koPath", "format": "$koFormat", "saveMode": "$koSaveMode"}
       |  ]
       |}]${if (!consolidate) "" else s""",
       |"consolidation": {"enabled": true, "ok_records": {
       |  "input_pattern": "${okPath.replace("{date}", "*")}", "output_path": "$root/out/consolidated",
       |  "deduplication": {"enabled": true, "key_column": "event_id",
       |    "order_by": "batch_date", "order_direction": "DESC"}}}"""}
       |}""".stripMargin

  /** Lands batch `date` under `root/landing`: 20 events, every fifth
    * with a negative amount, plus one line that is not JSON when
    * `malformed`. */
  private def land(root: Path, date: String, malformed: Boolean = false): Unit = {
    val dir = Files.createDirectories(root.resolve(s"landing/batch-$date"))
    Files.writeString(dir.resolve("part-0.json"), ((0 until 20).map { i =>
      s"""{"event_id": $i, "amount": ${if (i % 5 == 0) -1.5 else i * 2.5}}"""
    } ++ (if (malformed) Seq("""{"event_id": 20, "amount": """) else Nil)).mkString("", "\n", "\n"))
  }

  test("a second batch reuses the first batch's generated code") {
    withTempDir("graft-runner-codegen") { root =>
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
  }

  test("a failing sink raises after the other sink committed; the manifest stays put") {
    withTempDir("graft-runner-sinkfail") { root =>
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
  }

  test("sinks with nested paths are refused before anything is written") {
    withTempDir("graft-runner-nested") { root =>
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

  private val dates = Seq("2025-03-01", "2025-03-02", "2025-03-03")

  /** The daily flow over `root` with per-batch sink paths and a
    * consolidation; `koSaveMode` and `failFast` as in [[dailyJson]]. */
  private def daily(root: Path, koSaveMode: String = "overwrite", failFast: Boolean = false) =
    Metadata.parse(dailyJson(root, s"$root/out/ok/batch-{date}", s"$root/out/ko/batch-{date}",
      koSaveMode = koSaveMode, failFast = failFast, consolidate = true))

  private def config(root: Path) = IncrementalPipeline.Config(
    inputBaseDir = s"$root/landing", batchPrefix = "batch-",
    manifestPath = s"$root/manifest.json", runId = "r1")

  /** What a run leaves behind: each batch's OK and KO rows and the
    * consolidated rows (all but `ingested_at`), and the manifest's
    * batch order. */
  private def outputs(root: Path): (Map[String, Set[Row]], Seq[String]) = {
    val dirs = dates.flatMap(d => Seq(s"ok/batch-$d", s"ko/batch-$d")) :+ "consolidated"
    (dirs.map(d => d -> spark.read.parquet(s"$root/out/$d").drop("ingested_at").collect().toSet).toMap,
      Manifest.load(spark, s"$root/manifest.json").get.processedBatches.map(_.batchDate))
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("three batches in one run leave what three one-batch runs leave") {
    withTempDir("graft-runner-together") { together =>
      withTempDir("graft-runner-onebyone") { oneByOne =>
        dates.foreach(land(together, _))
        assert(IncrementalPipeline.run(spark, daily(together), config(together))
          .processedBatches === dates)
        dates.foreach { d =>
          land(oneByOne, d)
          IncrementalPipeline.run(spark, daily(oneByOne), config(oneByOne))
        }
        assert(outputs(together) === outputs(oneByOne))
      }
    }
  }

  test("a failed batch stops the manifest; a later batch of its window still ran") {
    withTempDir("graft-runner-midfail") { root =>
      land(root, dates(0))
      land(root, dates(1), malformed = true)
      land(root, dates(2))
      val meta = daily(root, failFast = true)
      val e = intercept[Exception](IncrementalPipeline.run(spark, meta, config(root)))
      assert(messages(e).contains(s"batch-${dates(1)}"), messages(e))
      assert(Manifest.load(spark, config(root).manifestPath).get.lastProcessedBatch
        .contains(dates(0)))
      assert(Files.exists(root.resolve(s"out/ok/batch-${dates(2)}/_SUCCESS")))
      assert(!Files.exists(root.resolve("out/consolidated")))
      // repaired, the re-run resumes at batch 2 and ends where a clean run does
      land(root, dates(1))
      assert(IncrementalPipeline.run(spark, meta, config(root)).processedBatches === dates.tail)
      withTempDir("graft-runner-clean") { clean =>
        dates.foreach(land(clean, _))
        IncrementalPipeline.run(spark, daily(clean, failFast = true), config(clean))
        assert(outputs(root) === outputs(clean))
      }
    }
  }

  test("an append sink keeps the batches sequential: nothing after the failed batch runs") {
    withTempDir("graft-runner-append") { root =>
      land(root, dates(0))
      land(root, dates(1), malformed = true)
      land(root, dates(2))
      val sc = spark.sparkContext
      val starts = new ConcurrentHashMap[Int, (String, Long)]()
      val ends = new ConcurrentHashMap[Int, Long]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties.getProperty("spark.job.description"))
            .filter(_.startsWith("batch ")).foreach(d => starts.put(e.jobId, d -> e.time))
        override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
      }
      ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try intercept[Exception](
        IncrementalPipeline.run(spark, daily(root, koSaveMode = "append", failFast = true), config(root)))
      finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
      assert(!Files.exists(root.resolve(s"out/ok/batch-${dates(2)}")))
      assert(!Files.exists(root.resolve(s"out/ko/batch-${dates(2)}")))
      assert(Manifest.load(spark, config(root).manifestPath).get.lastProcessedBatch
        .contains(dates(0)))
      val intervals = starts.asScala.toSeq.groupBy(_._2._1).map { case (batch, jobs) =>
        batch -> (jobs.map(_._2._2).min, jobs.map(j => ends.get(j._1)).max)
      }
      assert(intervals.keySet === dates.take(2).map(d => s"batch $d").toSet)
      intervals.values.toSeq.sorted.sliding(2).foreach { case Seq((_, end), (start, _)) =>
        assert(end <= start, s"batch jobs overlap: $intervals")
      }
    }
  }

  test("a torn manifest raises naming its path, before any sink writes") {
    withTempDir("graft-runner-torn") { root =>
      land(root, dates(0))
      val manifest = root.resolve("manifest.json")
      val cutMidArray = Manifest.create("pipeline").update(dates(0), "r0", "t0").toJson
        .takeWhile(_ != '}')
      for (torn <- Seq("", cutMidArray)) {
        Files.writeString(manifest, torn)
        val e = intercept[IOException](IncrementalPipeline.run(spark, daily(root), config(root)))
        assert(e.getMessage.contains(s"$manifest cannot be parsed"), e.getMessage)
        assert(Files.readAllBytes(manifest) sameElements torn.getBytes(StandardCharsets.UTF_8))
        assert(!Files.exists(root.resolve("out")))
      }
    }
  }
}
