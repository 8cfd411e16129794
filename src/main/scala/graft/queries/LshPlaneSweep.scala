package graft.queries

import graft.pipeline.RuntimeConfig
import org.apache.spark.sql.functions._

/** Measures THE scale knob of the hyperplane-LSH vector family
  * ([[graft.queries.VectorQueries]] q29/q30): candidate-pair volume vs
  * plane count vs corpus size — the vector twin of
  * [[SimHashWidthSweep]]. At a FIXED plane count p the bucket
  * self-join emits ~n²/2^p random-collision pairs plus the true
  * near-dup population (~linear in n), so q30's wall grows
  * super-linearly at fixed p by design; the documented knob is
  * p ∝ log₂(n), which holds per-bucket occupancy — and with it the
  * join output — flat. This harness turns that claim into numbers on
  * a real (replica) corpus.
  *
  * Usage: LshPlaneSweep <sfDir> [planes]
  *   planes: comma-separated, default "8,12,16"
  *
  * Prints one JSON line per plane count:
  *   {"dir":…,"planes":p,"n_vecs":N,"pairs":C,"dups":V,"sec":T}
  * pairs = same-bucket candidate pairs (the quadratic-risk term),
  * dups  = verified cosine > threshold near-dups (knob-stable).
  */
object LshPlaneSweep {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: LshPlaneSweep <sfDir> [planes]")
    val dir = args(0)
    val planeCounts = args.lift(1).getOrElse("8,12,16").split(",").map(_.trim.toInt)
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.{VectorFunctions => V}

    planeCounts.foreach { p =>
      val t0 = System.nanoTime()
      val planes = V.planes(p, VectorQueries.dim)
      val e = VectorQueries.emb(spark, dir)
        .withColumn("bucket", V.lshBucket(col("v"), planes))
        .withColumn("nrm", V.norm(col("v")))
        .persist()
      val nVecs = e.count()
      val a = e.select(col("vec_id").as("a_id"), col("v").as("qv"),
        col("bucket"), col("nrm").as("q_nrm"))
      val b = e.select(col("vec_id").as("b_id"), col("v").as("nv"),
        col("bucket"), col("nrm").as("n_nrm"))
      val cand = a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
        .persist()
      val nPairs = cand.count()
      val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
      val nDups = cand.select(cos.as("cos"))
        .filter(col("cos") > VectorQueries.nearDupThreshold).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"dir":"$dir","planes":$p,"n_vecs":$nVecs,"pairs":$nPairs,"dups":$nDups,"sec":$sec}""")
      cand.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
    spark.stop()
  }
}
