package graft.queries

import graft.SparkSpec

/** Pins q179 (incremental stream state ≡ q141's one-shot output, row
  * for row), and the two embedding classifiers on a separable
  * two-cluster fixture with one deliberately mislabeled point (q180
  * kNN and q181 centroid must both classify by GEOMETRY, not label).
  */
class ClassifierStreamDriftSpec extends SparkSpec {

  test("q179: streaming KS state equals the one-shot scan row for row") {
    val stream = StreamingParity.q179_stream_drift(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val batch = DistributionQueries.q141_ks_drift(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(stream.toSeq === batch.toSeq)
    assert(stream.nonEmpty)
  }

  private def writeClusters(dir: String): Unit = {
    import spark.implicits._
    // geometric cluster X (ids 0–6 minus 5, near e0) all labeled A;
    // geometric cluster Y (ids 7–13, near e1) all labeled B; id 5 is
    // the TRAITOR — labeled A but placed in Y. Clusters are 6/8
    // strong so every 5-NN vote stays inside a geometric cluster.
    def x(eps: Float) = Array(1.0f, eps, 0f, 0f)
    def y(eps: Float) = Array(eps, 1.0f, 0f, 0f)
    val vecs =
      Seq(0L -> x(0.01f), 1L -> x(0.02f), 2L -> x(-0.01f), 3L -> x(0.03f),
        4L -> x(-0.02f), 6L -> x(0.04f)).map { case (id, v) => (id, "A", v) } ++
      Seq(5L -> y(-0.03f)).map { case (id, v) => (id, "A", v) } ++ // traitor
      Seq(7L -> y(0.01f), 8L -> y(0.02f), 9L -> y(-0.01f), 10L -> y(0.03f),
        11L -> y(-0.02f), 12L -> y(0.04f), 13L -> y(0.05f))
        .map { case (id, v) => (id, "B", v) }
    vecs.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("q180: geometry beats labels — the planted traitor sinks class-A accuracy") {
    withTempDir("knncls") { tmp =>
      val dir = tmp.toString
      writeClusters(dir)
      val got = VectorQueries.q180_knn_classifier(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // A: 7 queries; the traitor's 5-NN are all geometric-Y (label B)
      assert(got("A") === ((7L, 6L, 6000000L / 7L)))
      assert(got("B") === ((7L, 7L, 1000000L)))
    }
  }

  test("q181: centroid confusion matrix isolates the traitor in the off-diagonal") {
    withTempDir("centcls") { tmp =>
      val dir = tmp.toString
      writeClusters(dir)
      val got = VectorQueries.q181_centroid_classifier(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got === Map(
        ("A", "A") -> 6L, ("A", "B") -> 1L, ("B", "B") -> 7L))
    }
  }
}
