package graft

import graft.pipeline.RuntimeConfig

/** Per-round benchmark main (driver contract): one JSON line with
  * total + per-query wall seconds on SPARK_GRAFT_SF_DIR.
  *
  * Each query is forced with a noop-format write — count() would let
  * Catalyst prune computed columns (token counts, scores, signatures)
  * and under-measure; noop materializes every output column without
  * sink I/O.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // A failed warm-up is not fatal (its cost moves into the timed
    // query), but it is reported: stdout stays the one JSON line.
    def warm(name: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable => System.err.println(s"[bench] warm-up $name failed: $e") }
    // Warm the JVM (codegen, parquet readers, shuffle machinery) on the
    // tiny flagship before any timed run.
    warm("flagship")(SparkEntry.entry(spark).write.format("noop").mode("overwrite").save())
    // Materialize q186's committed base state (prior-state contract:
    // the label table exists before the incremental batch arrives, so
    // its build cost is not part of the operator's measured row).
    warm("warmIncrementalCcBase")(graft.queries.GraphQueries.warmIncrementalCcBase(spark, sfDir))
    warm("warmTopkState")(graft.queries.MiningQueries.warmTopkState(spark, sfDir))

    // optional arg 1: comma-separated query names (dev iteration
    // filter, same contract as Verify; the driver passes no args)
    val only: Option[Set[String]] =
      if (args.length > 0) Some(args(0).split(",").toSet) else None

    val failed = scala.collection.mutable.ListBuffer[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        // a crashed query's time-to-failure is meaningless — flag it in
        // the JSON so a failure can never read as a speed-up
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // per-query isolation: drop caches a query persisted for its own
      // reuse (LSH bands, CC labels) so later queries aren't measured
      // under the accumulated memory/GC pressure of earlier ones.
      // clearCache only covers Dataset persist — localCheckpoint RDDs
      // (CC label rounds, checkpointed results) are separate blocks
      // and would otherwise accumulate across the whole run
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      name -> dt
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // 1-minute OS load average at the END of the run: a leg that ran
    // beside another saturating JVM self-identifies (load ≫ cpus means
    // the wall times measured contention, not the queries — the
    // round-13 "seesaw" mechanism, see SURVEY §20)
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // contamination self-label: end-of-run load beyond what this
    // bench's own threads can produce (1.25× its core budget) means
    // ANOTHER process competed for the cpus and the wall times above
    // measured contention, not the queries — the artifact says so
    // itself, so a contaminated leg can never enter the committed
    // perf record looking normal (SURVEY §20's r11–r13 seesaw class).
    // The core budget comes from the RESOLVED session, not the raw
    // env — a SPARK_GRAFT_CONF-built session can carry a different
    // master than local[$SPARK_GRAFT_CPUS]
    val coreBudget = spark.sparkContext.defaultParallelism
    val contaminated = loadAvg > coreBudget * 1.25
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"load_avg":$loadAvg,"contaminated":$contaminated,"sf":"$sfDir"}"""
    println(line)
    // SPARK_GRAFT_BENCH_OUT: also write the line ATOMICALLY to a file.
    // The committed r14 artifacts were lost to stdout-capture
    // truncation (a 0-byte redirect and a tail cut mid-JSON); a direct
    // file write cannot be cut by whatever buffers/trims the console.
    // write-then-rename so a crash mid-write can never leave a
    // truncated artifact in place of the old one
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      val target = java.nio.file.Paths.get(p)
      val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
      java.nio.file.Files.writeString(tmp, line + "\n")
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    spark.stop()
  }
}
