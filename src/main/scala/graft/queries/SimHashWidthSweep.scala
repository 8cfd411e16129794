package graft.queries

import graft.pipeline.RuntimeConfig
import org.apache.spark.sql.functions._

/** Measures THE scale knob of the simhash family: candidate volume vs
  * fingerprint width vs corpus size. q69's candidate count grows
  * ~ n²/2^width (random collisions) + the true near-dup population
  * (~linear in n); the design claim in SURVEY §5 is that growing the
  * width with the corpus keeps bucket occupancy — and with it the
  * probe-join output — bounded. This harness turns that claim into
  * numbers.
  *
  * Usage: SimHashWidthSweep <sfDir> [widths]
  *   widths: comma-separated, default "16,20,24"
  *
  * Prints one JSON line per width:
  *   {"dir":…,"width":W,"n_docs":N,"candidates":C,"size_filtered":S,
  *    "verified":V,"sec":T}
  * candidates = Hamming≤1 probe-join pairs (the quadratic-risk term),
  * size_filtered = survivors of the integer size-ratio prefilter,
  * verified = final Jaccard≥0.8 pairs (true near-dups — width-stable).
  */
object SimHashWidthSweep {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SimHashWidthSweep <sfDir> [widths]")
    val dir = args(0)
    val widths = args.lift(1).getOrElse("16,20,24").split(",").map(_.trim.toInt)
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    widths.foreach { w =>
      val t0 = System.nanoTime()
      val base = TextQueries.simhashTable(spark, dir, w).persist()
      val nDocs = base.count()
      val cand = TextQueries.simhashProbePairs(base, w).persist()
      val nCand = cand.count()
      val sizes = base.select(col("doc_id"), size(col("sk")).as("n"))
      val candSized = cand
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("a_n")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("b_n")), "b_id")
        .filter(least(col("a_n"), col("b_n")) * 5 >= greatest(col("a_n"), col("b_n")) * 4)
        .persist()
      val nSized = candSized.count()
      val sh = base.select(col("doc_id"), col("sk"))
      val nVerified = candSized
        .join(sh.select(col("doc_id").as("a_id"), col("sk").as("a_sk")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("sk").as("b_sk")), "b_id")
        .withColumn("inter", call_function("intersect_count", col("a_sk"), col("b_sk")))
        .withColumn("uni", col("a_n") + col("b_n") - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * 4)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      cand.unpersist(); candSized.unpersist(); base.unpersist()
      println(f"""{"dir":"$dir","width":$w,"n_docs":$nDocs,""" +
        f""""candidates":$nCand,"size_filtered":$nSized,""" +
        f""""verified":$nVerified,"sec":$sec%.2f}""")
    }
    spark.stop()
  }
}
