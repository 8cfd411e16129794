package graft.queries

import graft.SparkSpec

/** q117's fixed-point recursion against an independent local replica:
  * the distributed loop must match the sequential integer recursion
  * node for node, bit for bit — that's the whole point of integer
  * PageRank (no float drift, no partition-order sensitivity). Also
  * q133's label propagation against hand-traced rounds, including the
  * synchronous 2-cycle a fixed round count must determinize.
  */
class PageRankSpec extends SparkSpec {

  private val scale = 1000000000000L

  /** Sequential replica of the same recursion (BigInt mirrors the
    * DECIMAL(38,0) damping step).
    */
  private def localPr(undirected: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = undirected.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var pr = deg.keys.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val mass = undirected
        .groupBy(_._2)
        .view.mapValues(_.map { case (u, _) => pr(u) / deg(u) }.sum)
        .toMap
      pr = mass.map { case (v, m) =>
        v -> ((BigInt(15) * scale + BigInt(85) * m) / 100).toLong
      }
    }
    pr
  }

  private def run(edges: Seq[(Long, Long)], iters: Int,
      forceShuffled: Option[Boolean] = None): Map[Long, Long] = {
    import spark.implicits._
    val und = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    GraphQueries.pageRankLoop(und, iters, forceShuffled)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("distributed loop equals the sequential integer recursion") {
    // star + chain + triangle: mixed degrees, multi-hop propagation
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), // star around 1
      (4L, 5L), (5L, 6L),           // chain
      (7L, 8L), (8L, 9L), (9L, 7L)) // triangle
    val und = edges ++ edges.map(_.swap)
    assert(run(edges, 10) === localPr(und, 10))
  }

  test("shuffled-ranks fallback is bit-identical to the broadcast path") {
    // the no-broadcast plan (adjacency partitioned by src, ranks
    // shuffled to it — the >10M-node regime) must be the SAME integer
    // recursion: every node's rank equal bit for bit, on a graph with
    // hubs, chains, a cycle and an isolated dumbbell
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L), (6L, 4L),
      (7L, 8L), (9L, 10L), (8L, 9L))
    val bc = run(edges, 10, forceShuffled = Some(false))
    val sh = run(edges, 10, forceShuffled = Some(true))
    assert(bc === sh)
    val und = edges ++ edges.map(_.swap)
    assert(sh === localPr(und, 10), "and both equal the sequential replica")
  }

  test("hub concentrates rank; leaves of the same degree tie exactly") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val got = run(edges, 10)
    assert(got(1L) > got(2L), "hub must outrank leaves")
    assert(got(2L) === got(3L) && got(3L) === got(4L) && got(4L) === got(5L),
      "symmetric leaves must tie bit-exactly")
  }

  test("total mass is conserved up to truncation loss") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val got = run(edges, 10)
    val total = got.values.sum
    val ideal = 4L * scale
    // DIV floors shed at most a few units per node per iteration
    assert(total <= ideal && total > ideal - 4L * 10 * 100,
      s"mass drifted: $total vs $ideal")
  }

  // ---------- q133: label propagation ----------

  test("q133: disjoint triangles converge to their min labels") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("u", "v")
    val got = GraphQueries.labelPropagation(e0, GraphQueries.lpRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("q133: synchronous 2-cycle on a path is determinized by the fixed round count") {
    import spark.implicits._
    // path 1–2–3 oscillates under synchronous LPA; hand-traced rounds:
    // r1: (1→2, 2→1, 3→2)  r2: (1→1, 2→2, 3→1)
    // r3: (1→2, 2→1, 3→2)  r4: (1→1, 2→2, 3→1)
    val e0 = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val got = GraphQueries.labelPropagation(e0, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }
}
