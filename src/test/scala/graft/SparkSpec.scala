package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` in a fresh temp dir and deletes the dir afterwards,
    * also when `body` throws. */
  def withTempDir[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }
}

object SparkSpec {
  /** The mains' session builder at local[4]: specs run Bench's confs. */
  lazy val session: SparkSession = graft.pipeline.RuntimeConfig.parse(
    "spark.master = local[4]\nspark.app_name = graft-test\nspark.shuffle_partitions = 4")
    .sessionBuilder().getOrCreate()
}
