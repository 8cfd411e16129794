package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class ScratchSpec extends SparkSpec {

  test("default (no conf key): allocates a local java temp dir") {
    assert(spark.conf.getOption(Scratch.ConfKey).isEmpty)
    val d = Scratch.dir(spark, "graft-scratch-spec-")
    assert(Files.isDirectory(Paths.get(d)))
    assert(Paths.get(d).getFileName.toString.startsWith("graft-scratch-spec-"))
  }

  test("conf key set: allocates unique subdirs under the configured base") {
    val base = Files.createTempDirectory("graft-scratch-base-").toString
    spark.conf.set(Scratch.ConfKey, base)
    try {
      val a = Scratch.dir(spark, "q-")
      val b = Scratch.dir(spark, "q-")
      assert(a !== b)
      for (d <- Seq(a, b)) {
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.getFileStatus(p).isDirectory)
        assert(d.contains(base), s"$d should live under $base")
      }
      // A staged write through the allocated path round-trips.
      import spark.implicits._
      val out = s"$a/t.parquet"
      Seq(1, 2, 3).toDF("x").write.parquet(out)
      assert(spark.read.parquet(out).count() === 3)
    } finally spark.conf.unset(Scratch.ConfKey)
  }

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A scoped query over a parquet file written inside the scope. */
  private def scopedRows(): (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    var work = ""
    val df = Scratch.scoped(spark, "graft-scoped-spec-") { w =>
      work = w
      Seq(3, 1, 2).toDF("x").write.parquet(s"$w/t")
      spark.read.parquet(s"$w/t").selectExpr("x * 10 AS y").orderBy("y")
    }
    (work, df)
  }

  test("scoped: rows read inside the scope still collect after its dir is gone") {
    val (work, df) = scopedRows()
    assert(work.nonEmpty && !exists(work))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(10, 20, 30))
    assert(df.count() == 3)
  }

  test("scoped: the cut holds under keepLineage and the disk lineage mode") {
    System.setProperty("graft.keepLineage", "true")
    try {
      val (work, df) = scopedRows()
      assert(!exists(work))
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(10, 20, 30))
    } finally System.clearProperty("graft.keepLineage")
    spark.conf.set("spark.graft.lineageCut", "disk")
    try {
      val (work, df) = scopedRows()
      assert(!exists(work))
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(10, 20, 30))
    } finally spark.conf.unset("spark.graft.lineageCut")
  }

  test("scoped: a failing body deletes the dir and rethrows its exception") {
    val boom = new IllegalStateException("boom")
    var work = ""
    val thrown = intercept[IllegalStateException] {
      Scratch.scoped(spark, "graft-scoped-fail-") { w =>
        work = w
        spark.range(3).write.parquet(s"$w/t")
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(work.nonEmpty && !exists(work))
  }

  test("scoped: with the conf key set, the dir is allocated under the base and deleted") {
    val base = Files.createTempDirectory("graft-scoped-base-").toString
    spark.conf.set(Scratch.ConfKey, base)
    try {
      val (work, df) = scopedRows()
      assert(work.contains(base), s"$work should live under $base")
      assert(!exists(work))
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(10, 20, 30))
      assert(Files.list(Paths.get(base)).count() == 0)
      Files.delete(Paths.get(base))
    } finally spark.conf.unset(Scratch.ConfKey)
  }
}
