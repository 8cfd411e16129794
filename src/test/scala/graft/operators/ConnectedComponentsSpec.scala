package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {

  test("components resolve to min-id labels, including multi-hop chains") {
    val s = spark
    import s.implicits._
    // component {1,2,3,4} as a chain (diameter 3 forces >1 round),
    // component {10,11} as a pair, vertex 20-21 isolated pair
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val out = ConnectedComponents.run(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("falls back to star contraction when propagation exceeds maxIter") {
    val s = spark
    import s.implicits._
    // chain 0-1-2-3-4: min label needs 4 propagation rounds; with
    // maxIter=2 the result must come from the contraction fallback,
    // never from unconverged labels
    val chain = (0L until 4L).map(i => (i, i + 1)).toDF("a", "b")
    val out = ConnectedComponents.run(chain, "a", "b", maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (0L to 4L).map(_ -> 0L).toMap)
  }

  test("star contraction directly resolves chains, pairs and isolated pairs") {
    val s = spark
    import s.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val out = ConnectedComponents.starContract(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("star contraction handles self-loops and duplicate edges") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 1L), (2L, 3L), (3L, 2L), (2L, 3L)).toDF("a", "b")
    val out = ConnectedComponents.starContract(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("label table only carries pair vertices, never non-pair ids") {
    val s = spark
    import s.implicits._
    val edges = Seq((5L, 6L)).toDF("a", "b")
    val ids = ConnectedComponents.run(edges, "a", "b")
      .select("id").as[Long].collect().toSet
    assert(ids == Set(5L, 6L))
  }

  test("a failing run leaves no cached edge set behind") {
    spark.catalog.clearCache()
    // a range, not a local Seq: the optimizer would evaluate a
    // projection of local rows (and raise) before the run starts
    val edges = spark.range(1, 4).select(col("id").as("a"),
      when(col("id") === 2L, raise_error(lit("bad edge"))).otherwise(col("id") + 1).as("b"))
    val err = intercept[Exception](ConnectedComponents.run(edges, "a", "b"))
    assert(err.getMessage.contains("bad edge"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
