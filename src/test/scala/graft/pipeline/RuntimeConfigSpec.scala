package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The declarative runtime-config contract (reference
  * config_loader.py analog): ${ENV} substitution, defaults, fail-fast
  * on unset/unknown, the typed mappings into the session builder
  * inputs and IncrementalPipeline.Config, and the session contract of
  * every graft main (graft's defaults under declared values), checked
  * on the resolved settings without starting a SparkContext.
  */
class RuntimeConfigSpec extends AnyFunSuite {

  private val env = Map(
    "SPARK_MASTER_HOST" -> "spark-main",
    "SPARK_MASTER_PORT" -> "7077",
    "DATA_ROOT" -> "/data/in")

  test("parses a full config with ${ENV} substitution") {
    val cfg = RuntimeConfig.parse(
      """# comments survive properties parsing
        |spark.master = spark://${SPARK_MASTER_HOST}:${SPARK_MASTER_PORT}
        |spark.app_name = graft-prod
        |spark.shuffle_partitions = 256
        |spark.conf.spark.sql.adaptive.enabled = true
        |pipeline.input_base_dir = ${DATA_ROOT}/batches
        |pipeline.batch_prefix = policies_
        |pipeline.manifest_path = ${DATA_ROOT}/state/manifest.json
        |pipeline.metadata_path = /etc/graft/metadata.json
        |sub.env_name = prod
        |""".stripMargin, env)
    assert(cfg.master == "spark://spark-main:7077")
    assert(cfg.appName == "graft-prod")
    assert(cfg.shufflePartitions.contains(256))
    assert(cfg.sparkConf == Map("spark.sql.adaptive.enabled" -> "true"))
    assert(cfg.inputBaseDir.contains("/data/in/batches"))
    assert(cfg.substitutions == Map("env_name" -> "prod"))
    val pc = cfg.pipelineConfig("run-42")
    assert(pc.inputBaseDir == "/data/in/batches")
    assert(pc.batchPrefix == "policies_")
    assert(pc.manifestPath == "/data/in/state/manifest.json")
    assert(pc.runId == "run-42")
    assert(pc.substitutions == Map("env_name" -> "prod"))
  }

  test("${NAME:-default} falls back; set variables win over defaults") {
    val cfg = RuntimeConfig.parse(
      "spark.master = local[${CORES:-8}]\nspark.app_name = ${DATA_ROOT:-x}", env)
    assert(cfg.master == "local[8]")
    assert(cfg.appName == "/data/in")
  }

  test("unset variable without default fails at load, naming the variable") {
    val e = intercept[IllegalArgumentException] {
      RuntimeConfig.parse("spark.master = spark://${NO_SUCH_HOST}:7077", env)
    }
    assert(e.getMessage.contains("NO_SUCH_HOST"))
  }

  test("unknown keys are rejected (a typo must not silently configure nothing)") {
    val e = intercept[IllegalArgumentException] {
      RuntimeConfig.parse("spark.mater = local[4]", env)
    }
    assert(e.getMessage.contains("spark.mater"))
  }

  test("non-integer shuffle partitions and incomplete pipeline block fail typed") {
    intercept[IllegalArgumentException] {
      RuntimeConfig.parse("spark.shuffle_partitions = many", env)
    }
    val cfg = RuntimeConfig.parse("pipeline.input_base_dir = /in", env)
    val e = intercept[IllegalArgumentException] { cfg.pipelineConfig("r") }
    assert(e.getMessage.contains("batch_prefix"))
  }

  test("defaults: local[*] master, graft app name, empty maps") {
    val cfg = RuntimeConfig.parse("", env)
    assert(cfg.master == "local[*]")
    assert(cfg.appName == "graft")
    assert(cfg.shufflePartitions.isEmpty)
    assert(cfg.sparkConf.isEmpty && cfg.substitutions.isEmpty)
  }

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  test("a declared conf wins over graft's default for the same key") {
    val cfg = RuntimeConfig.parse(
      s"""spark.conf.$advisory = 64m
         |spark.conf.spark.sql.adaptive.coalescePartitions.parallelismFirst = true
         |""".stripMargin, env)
    assert(RuntimeConfig.defaults(advisory) == "8m")
    assert(cfg.settings(advisory) == "64m")
    assert(cfg.settings("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    assert(cfg.settings("spark.buffer.pageSize") == "4m")
  }

  test("declared master, app name and shuffle partitions win over the defaults") {
    val cfg = RuntimeConfig.parse(
      "spark.master = local[3]\nspark.app_name = t\nspark.shuffle_partitions = 3\n" +
        "spark.conf.spark.ui.enabled = true", env)
    assert(cfg.settings == RuntimeConfig.defaults ++ Map(
      "spark.master" -> "local[3]", "spark.app.name" -> "t",
      "spark.sql.shuffle.partitions" -> "3", "spark.ui.enabled" -> "true"))
  }

  test("fromEnv: local[SPARK_GRAFT_CPUS] with that many shuffle partitions, else the processor count") {
    val set = RuntimeConfig.fromEnv(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(set.settings == RuntimeConfig.defaults ++ Map(
      "spark.master" -> "local[3]", "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> "3"))
    val n = Runtime.getRuntime.availableProcessors
    val unset = RuntimeConfig.fromEnv(Map.empty)
    assert(unset.master == s"local[$n]")
    assert(unset.shufflePartitions.contains(n))
  }

  test("fromEnv: SPARK_GRAFT_CONF names the file, and its declared confs win") {
    val f = Files.createTempFile("graft-runtime-", ".properties")
    try {
      Files.writeString(f,
        s"spark.master = local[2]\nspark.conf.$advisory = 64m\n")
      val cfg = RuntimeConfig.fromEnv(Map(
        "SPARK_GRAFT_CONF" -> f.toString, "SPARK_GRAFT_CPUS" -> "7"))
      assert(cfg.master == "local[2]")
      assert(cfg.shufflePartitions.isEmpty)
      assert(cfg.settings(advisory) == "64m")
      assert(cfg.settings("spark.sql.extensions") == "graft.plans.GraftExtensions")
    } finally Files.delete(f)
  }

  test("the defaults are the benchmark session's confs, minus its work dirs and Spark's own defaults") {
    val bench = RuntimeConfig.load("perfbench/session.properties",
      Map("PERFBENCH_CPUS" -> "4", "PERFBENCH_WORK" -> "/work"))
    val declared = bench.sparkConf --
      Seq("spark.local.dir", "spark.graft.scratchDir", "spark.sql.warehouse.dir")
    assert(declared.filter { case (k, _) => RuntimeConfig.defaults.contains(k) } ==
      RuntimeConfig.defaults)
    // a declared key graft leaves out must hold Spark's built-in value,
    // so the benchmark session still resolves to graft's
    val sparkOwn = new SQLConf
    declared.filter { case (k, _) => !RuntimeConfig.defaults.contains(k) }
      .foreach { case (k, v) => assert(sparkOwn.getConfString(k) == v, k) }
  }
}
