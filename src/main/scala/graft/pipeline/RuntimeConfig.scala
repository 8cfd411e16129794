package graft.pipeline

import java.io.StringReader
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Declarative runtime configuration — the analog of the reference's
  * config/pipeline_config.yaml loaded by pipeline/config_loader.py:11-23
  * (flat java-properties syntax instead of YAML: zero added
  * dependencies, same "declare the environment in data" contract).
  * One jar runs across environments by swapping this file, not code.
  * This is the only place graft's mains build a SparkSession
  * ([[RuntimeConfig.fromEnv]] → [[sessionBuilder]]).
  *
  * Values may reference environment variables as `${NAME}` or
  * `${NAME:-default}`. A reference to an unset variable WITHOUT a
  * default fails at load time. (The reference's os.path.expandvars
  * leaves unknown `${NAME}` text in place — a misconfigured bucket
  * name that only explodes at the first write; failing at load is a
  * deliberate divergence.)
  *
  * Recognized keys — everything else is rejected so a typo cannot
  * silently configure nothing:
  *   spark.master                 e.g. local[32], spark://host:7077
  *   spark.app_name
  *   spark.shuffle_partitions     int
  *   spark.conf.<key>             raw SparkConf passthrough
  *   pipeline.input_base_dir      feeds IncrementalPipeline.Config
  *   pipeline.batch_prefix
  *   pipeline.manifest_path
  *   pipeline.metadata_path       the dataflow-definition document
  *   sub.<name>                   path-template substitutions ({date} etc.)
  */
final case class RuntimeConfig(
    master: String,
    appName: String,
    shufflePartitions: Option[Int],
    sparkConf: Map[String, String],
    inputBaseDir: Option[String],
    batchPrefix: Option[String],
    manifestPath: Option[String],
    metadataPath: Option[String],
    substitutions: Map[String, String]) {

  /** Every setting a session built from this config carries: graft's
    * [[RuntimeConfig.defaults]] first, then the master, app name,
    * shuffle partitions and spark.conf.* declared here. Declared values
    * always win.
    */
  def settings: Map[String, String] =
    RuntimeConfig.defaults ++
      Map("spark.master" -> master, "spark.app.name" -> appName) ++
      shufflePartitions.map(n => "spark.sql.shuffle.partitions" -> n.toString) ++
      sparkConf

  /** The one session builder of graft's mains: carries [[settings]]. */
  def sessionBuilder(): SparkSession.Builder = {
    val b = SparkSession.builder()
    settings.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** The incremental-pipeline run config; fails if the pipeline.*
    * block is incomplete (partial wiring is a misconfiguration, not a
    * default).
    */
  def pipelineConfig(runId: String): IncrementalPipeline.Config = {
    def req(name: String, v: Option[String]): String =
      v.getOrElse(throw new IllegalArgumentException(
        s"runtime config: pipeline.$name is required to build a pipeline run"))
    IncrementalPipeline.Config(
      inputBaseDir = req("input_base_dir", inputBaseDir),
      batchPrefix = req("batch_prefix", batchPrefix),
      manifestPath = req("manifest_path", manifestPath),
      runId = runId,
      substitutions = substitutions)
  }
}

object RuntimeConfig {

  /** graft's measured session confs, applied under every declared one. */
  val defaults: Map[String, String] = Map(
    // results are compared cell for cell with DuckDB's: UTC everywhere
    "spark.sql.session.timeZone" -> "UTC",
    // the rule-rewritten plans, not the declarative ones
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    // guide §2.2: with parallelismFirst (the Spark default) AQE only
    // coalesces post-shuffle partitions down to the core count, so a
    // KB-sized aggregate still runs 32 reduce tasks — pure scheduling
    // overhead on the iterative loops' node-sized tables. false makes
    // AQE honor advisoryPartitionSizeInBytes (the documented
    // recommendation for real clusters too, so this is not a local-
    // only tune).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // partition-size target AQE coalesces toward once parallelismFirst
    // is off: 8m locally (tiny SF inputs; a 256m target would serialize
    // every mid-size stage onto one core), production 64-256m — declare
    // it as spark.conf.spark.sql.adaptive.advisoryPartitionSizeInBytes.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
    // Tungsten's default page size is heap/slots-derived and hits its
    // 64 MB cap under a large local driver heap — then every small
    // hash-agg/sort task pays 64 MB of page zeroing, which dominates
    // tiny-partition local runs (measured 2× on the whole suite). A
    // cluster deploy declares its own.
    "spark.buffer.pageSize" -> "4m")

  /** The config every graft main runs under: the file named by
    * SPARK_GRAFT_CONF when set; otherwise `local[$SPARK_GRAFT_CPUS]`
    * with that many shuffle partitions, the cpus defaulting to this
    * machine's processor count.
    */
  def fromEnv(env: Map[String, String] = sys.env): RuntimeConfig =
    env.get("SPARK_GRAFT_CONF").map(load(_, env)).getOrElse {
      val cpus = env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString)
      parse(s"spark.master = local[$cpus]\nspark.shuffle_partitions = $cpus", env)
    }

  private val EnvRef = """\$\{([A-Za-z_][A-Za-z0-9_]*)(?::-([^}]*))?\}""".r

  /** `${NAME}` / `${NAME:-default}` expansion against `env`; unset
    * without a default is an error naming the variable.
    */
  private[pipeline] def substitute(s: String, env: Map[String, String]): String =
    EnvRef.replaceAllIn(s, m => {
      val (name, dflt) = (m.group(1), Option(m.group(2)))
      val v = env.get(name).orElse(dflt).getOrElse(throw new IllegalArgumentException(
        s"runtime config: environment variable $name is unset and has no default"))
      scala.util.matching.Regex.quoteReplacement(v)
    })

  def parse(text: String, env: Map[String, String] = sys.env): RuntimeConfig = {
    val props = new java.util.Properties()
    props.load(new StringReader(text))
    import scala.jdk.CollectionConverters._
    val kv = props.asScala.map { case (k, v) => k.trim -> substitute(v.trim, env) }.toMap

    val known = Set("spark.master", "spark.app_name", "spark.shuffle_partitions",
      "pipeline.input_base_dir", "pipeline.batch_prefix",
      "pipeline.manifest_path", "pipeline.metadata_path")
    kv.keys.find(k => !known(k) && !k.startsWith("spark.conf.") && !k.startsWith("sub."))
      .foreach(k => throw new IllegalArgumentException(
        s"runtime config: unrecognized key '$k'"))

    val shuffle = kv.get("spark.shuffle_partitions").map { v =>
      try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"runtime config: spark.shuffle_partitions must be an int, got '$v'")
      }
    }
    RuntimeConfig(
      master = kv.getOrElse("spark.master", "local[*]"),
      appName = kv.getOrElse("spark.app_name", "graft"),
      shufflePartitions = shuffle,
      sparkConf = kv.collect { case (k, v) if k.startsWith("spark.conf.") =>
        k.stripPrefix("spark.conf.") -> v },
      inputBaseDir = kv.get("pipeline.input_base_dir"),
      batchPrefix = kv.get("pipeline.batch_prefix"),
      manifestPath = kv.get("pipeline.manifest_path"),
      metadataPath = kv.get("pipeline.metadata_path"),
      substitutions = kv.collect { case (k, v) if k.startsWith("sub.") =>
        k.stripPrefix("sub.") -> v })
  }

  def load(path: String, env: Map[String, String] = sys.env): RuntimeConfig =
    parse(Files.readString(Paths.get(path)), env)
}
