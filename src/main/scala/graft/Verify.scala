package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.json4s.JString
import org.json4s.jackson.JsonMethods
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional arg 3: comma-separated query names (dev iteration filter)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_CONF: optional declarative runtime config (master,
    // shuffle partitions, raw conf) — one jar across environments;
    // the env-var defaults below are the no-config behavior
    val base = sys.env.get("SPARK_GRAFT_CONF")
      .map(p => graft.pipeline.RuntimeConfig.load(p).sessionBuilder())
      .getOrElse(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        // Tungsten's default page size is heap/slots-derived and hits
        // its 64 MB cap under a large local driver heap — then every
        // small hash-agg/sort task pays 64 MB of page zeroing, which
        // dominates tiny-partition local runs (measured 2× on the
        // whole suite). Pin a small page locally; a cluster deploy
        // owns its own tuning via SPARK_GRAFT_CONF.
        .config("spark.buffer.pageSize", "4m"))
    val spark = base
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // full JSON string escape (every control char): a tab or CR in an
    // oracle's SQL must not break the reader's json.load
    def q(s: String): String = JsonMethods.compact(JString(s))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the failed query names beside the oracles, [] when none failed
    Files.writeString(Paths.get(s"$outDir/failed.json"), failed.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
