package graft

import graft.pipeline.RuntimeConfig

/** Plan-inspection utility: prints the formatted executed plan of one
  * or all SparkEntry queries. Used for the explain-audit loop
  * (SURVEY §5): verify pushdown (PushedFilters/ReadSchema), join
  * strategies (BroadcastHashJoin vs SortMergeJoin), and codegen spans.
  *
  * Usage: graft.Explain <sfDir> [queryName] [--run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // one-pass flag parse (ADVICE r18: the indexOf+sliding version
    // mis-parsed a repeated or trailing --out, silently filtering to
    // zero queries). --out <dir>: also write each query's
    // explain("formatted") to <dir>/<name>.txt — the committed plan
    // evidence the optimization rounds keep under plans/rNN/
    var out: Option[String] = None
    var run = false
    var asBenched = false
    val positional = scala.collection.mutable.ListBuffer[String]()
    var ai = 0
    while (ai < args.length) {
      args(ai) match {
        case "--out" =>
          require(ai + 1 < args.length, "--out requires a directory argument")
          out = Some(args(ai + 1)); ai += 2
        case "--run" => run = true; ai += 1
        // --as-benched: do NOT disable the Lineage.cut materializations
        // — print the plan the bench actually executes (a cut site
        // shows as a LogicalRDD scan). The default audit mode shows
        // the full logical pipeline instead; the r19 optimization
        // round needs both views (the cut IS the optimization).
        case "--as-benched" => asBenched = true; ai += 1
        case a => positional += a; ai += 1
      }
    }
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    // comma-separated query names (one name still works)
    val which: Option[Set[String]] =
      positional.drop(1).headOption.map(_.split(",").toSet)
    // disable the perf-only localCheckpoint lineage cuts so the audit
    // sees the full plan beneath them (loop-round cuts and the
    // temp-dir cut of Scratch.scoped stay on; see [[Lineage]]) —
    // unless --as-benched asked for the executed shape
    if (!asBenched) System.setProperty("graft.keepLineage", "true")
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val targets = SparkEntry.queries
      .filter { case (n, _) => which.forall(_.contains(n)) }.toSeq.sortBy(_._1)
    if (targets.isEmpty)
      System.err.println(s"[explain] WARNING: name filter " +
        s"${which.getOrElse(Set.empty).mkString(",")} matches no query")
    targets.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      if (run) df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(plan).size
      println(s"== $name ==")
      println(s"  exchanges=${n("Exchange")} broadcastJoins=${n("BroadcastHashJoin")} " +
        s"smj=${n("SortMergeJoin")} bnlj=${n("BroadcastNestedLoopJoin")} " +
        s"cartesian=${n("CartesianProduct")} window=${n("Window ")} " +
        s"codegenSpans=${n("\\*\\(\\d+\\)")}")
      out.foreach { d =>
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.writeString(p.resolve(s"$name.txt"), formatted)
      }
      if (which.isDefined) println(plan)
    }
    spark.stop()
  }
}
