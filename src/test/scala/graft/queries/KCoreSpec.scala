package graft.queries

import graft.SparkSpec

/** q125's distributed peeling against a sequential replica: same
  * integer k = ⌈(11/16)·2E/V⌉, same cascade-to-fixpoint semantics,
  * same surviving (vertex, core degree) rows.
  */
class KCoreSpec extends SparkSpec {

  private def localKcore(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    var es = edges.toSet
    val nV = edges.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong
    val nE = es.size.toLong
    if (nV == 0) return Map.empty
    val k = (22 * nE + 16 * nV - 1) / (16 * nV)
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != es.size
      es = next
    }
    es.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphQueries.kcore(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("clique with pendant fringe: fringe peels, cascade included") {
    // K5 (mean-degree core) + chain hanging off vertex 1: the chain
    // peels over MULTIPLE rounds (6 falls only after 7 goes) — the
    // cascade the one-shot filter would miss
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val chain = Seq((1L, 6L), (6L, 7L))
    val edges = k5 ++ chain
    val got = run(edges)
    assert(got === localKcore(edges))
    assert(!got.contains(7L) && !got.contains(6L))
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("degenerate graphs: empty edge set and a single edge") {
    import spark.implicits._
    // empty: the nV == 0 early return, no job loop at all
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(GraphQueries.kcore(empty).collect().isEmpty)
    // single edge: E=1, V=2 → k = ceil(22/32) = 1; both endpoints have
    // degree 1 ≥ k, nothing peels
    assert(run(Seq((1L, 2L))) === Map(1L -> 1L, 2L -> 1L))
  }

  test("pseudo-random graph matches the sequential replica") {
    var s = 99L
    def next(): Long = { s = (s * 1103515245L + 12345L) % 2147483648L; s }
    val vs = 40L
    val edges = (1 to 300).map { _ =>
      val a = next() % vs; val b = next() % vs
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    assert(run(edges) === localKcore(edges))
  }

  test("a 64-vertex path peels to empty over 32 rounds") {
    // E = 63, V = 64 → k = 2: each round peels the two current ends,
    // so the path needs 32 rounds
    val path = (0L until 63L).map(i => (i, i + 1))
    val got = run(path)
    assert(got.isEmpty)
    assert(got === localKcore(path))
  }
}
