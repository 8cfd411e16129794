package graft
import graft.pipeline.RuntimeConfig
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
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
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
