package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16 second-half pins: the LM count-index lifecycle must be a
  * pure representation change at every leg (persist ≡ in-session,
  * delta-append ≡ from-scratch, tombstone-erasure ≡ rebuild-on-
  * retained, compacted ≡ delta-form — exceptAll both ways each);
  * q306's maximal-run report must equal an independent driver-side
  * reference on the real corpus; and q308's greedy k-center must be
  * deterministic, cluster-covering, and within the published 2×
  * of the brute-force optimal radius.
  */
class Round16bOpsSpec extends SparkSpec {

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  // ---------- q302–q305: LM count-index lifecycle ----------

  test("q302/q303: persisted and delta-appended LM index score like the in-session model") {
    val dir = sf("sf0.001")
    val fresh = LanguageModel.q104_bigram_lm(spark, dir)
    assert(sameRows(LanguageModel.q302_lm_index_persist(spark, dir), fresh),
      "persisted index diverged from in-session scoring")
    assert(sameRows(LanguageModel.q303_lm_index_update(spark, dir), fresh),
      "delta-appended index diverged from a from-scratch build")
  }

  test("q304/q305: tombstone erasure equals rebuild-on-retained; compaction is a pure representation change") {
    val dir = sf("sf0.001")
    val erased = LanguageModel.q304_lm_index_erasure(spark, dir)
    val compacted = LanguageModel.q305_lm_index_compact(spark, dir)
    assert(sameRows(erased, compacted),
      "compacted index scored differently from the delta-form log")
    // the erased eighth is genuinely gone, and genuinely non-empty
    val scored = erased.select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        substring(md5(concat(lit("lm304|"), col("doc_id").cast("string"))), 1, 1)
          .isin("0", "1").as("er"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val erasedIds = docs.filter(_._2).map(_._1)
    assert(erasedIds.nonEmpty, "degenerate fixture: nothing erased")
    assert(erasedIds.forall(!scored.contains(_)), "an erased doc was scored")
  }

  test("q318: a streamed erasure feed equals the batch tombstone erasure row for row") {
    val dir = sf("sf0.001")
    assert(sameRows(LanguageModel.q318_stream_lm_erasure(spark, dir),
      LanguageModel.q304_lm_index_erasure(spark, dir)),
      "streamed erasure feed diverged from the batch tombstone leg")
  }

  test("q309: streaming delta-append ingest scores like the in-session model") {
    val dir = sf("sf0.001")
    assert(sameRows(LanguageModel.q309_stream_lm_ingest(spark, dir),
      LanguageModel.q104_bigram_lm(spark, dir)),
      "stream-ingested index diverged from a from-scratch build")
  }

  // ---------- q306: maximal repeated runs ----------

  test("q306 equals an independent driver-side reference on the real corpus") {
    val dir = sf("sf0.001")
    val L = ChunkingQueries.runLen
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").filter(_.nonEmpty)))
    // shared grams by raw token-join equality (md5 is injective on
    // distinct strings for this purpose; reference skips the hash)
    val grams = docs.flatMap { case (id, tk) =>
      if (tk.length < L) Nil
      else (0 to tk.length - L).map(i => (id, i, tk.slice(i, i + L).mkString(" ")))
    }
    // total occurrences >= 2 (Lee et al.) — within-doc repeats count
    val shared = grams.groupBy(_._3).filter(_._2.size >= 2).keySet
    val expected = grams.filter(g => shared.contains(g._3))
      .groupBy(_._1).map { case (id, gs) =>
        val ps = gs.map(_._2).sorted
        val islands = ps.tail.foldLeft(List(List(ps.head))) { (acc, p) =>
          if (p - acc.head.head <= L) (p :: acc.head) :: acc.tail
          else List(p) :: acc
        }
        val spans = islands.map(is => (is.min, is.max, is.size))
        (id, docs.find(_._1 == id).get._2.length.toLong,
          spans.map(s => s._2 - s._1 + L).sum.toLong,
          spans.map(s => s._2 - s._1 + L).max.toLong,
          spans.size.toLong, spans.map(_._3).sum.toLong)
      }.toSeq.sortBy(_._1)
    val got = ChunkingQueries.q306_repeated_runs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(expected.nonEmpty, "degenerate corpus: no shared runs at all")
    assert(got === expected)
  }

  test("q311 scrub ledger is consistent with q306's coverage report") {
    val dir = sf("sf0.001")
    val covered = ChunkingQueries.q306_repeated_runs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val rows = ChunkingQueries.q311_run_scrub(spark, dir).collect()
    assert(rows.exists(_.getLong(2) > 0L), "degenerate corpus: nothing scrubbed")
    rows.foreach { r =>
      val (id, nTok, nRem, nKept) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nKept === nTok - nRem)
      assert(nRem <= covered.getOrElse(id, 0L),
        s"doc $id: removed $nRem exceeds covered ${covered.getOrElse(id, 0L)}")
    }
    // at least one shared gram's owner keeps its copy: some doc has
    // coverage but strictly fewer removed tokens
    assert(rows.exists(r => covered.getOrElse(r.getLong(0), 0L) > r.getLong(2)),
      "every covered token was removed — ownership kept nothing")
  }

  test("q316/q317: streamed index ingest equals the stored-artifact build row for row") {
    val dir = sf("sf0.001")
    assert(sameRows(RetrievalQueries.q316_stream_bm25_ingest(spark, dir),
      RetrievalQueries.q84_bm25_index_persist(spark, dir)),
      "stream-ingested BM25 log diverged from the persisted build")
    assert(sameRows(TextQueries.q317_stream_sig_ingest(spark, dir),
      TextQueries.q76_sig_index_persist(spark, dir)),
      "stream-ingested signature index diverged from the persisted build")
  }

  test("q315: planted fixture — identical halves read zero, a planted shift reads its exact micro value") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val work = graft.io.Scratch.dir(spark, "graft-q315spec-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // vec_ids 0..39: find which side of the dr15| hash split each id
      // lands on, then plant label 0 with THE SAME vector in both
      // halves (drift exactly 0) and label 1 with +u in half A, -u in
      // half B (per-coordinate drift exactly |floor(u·1e6)−floor(−u·1e6)|)
      val u = 0.25f
      val rows = (0L until 40L).map { id =>
        val a = java.security.MessageDigest.getInstance("MD5")
          .digest(s"dr15|$id".getBytes("UTF-8"))
        val firstHex = String.format("%02x", Byte.box(a(0))).charAt(0)
        val inA = firstHex < '8'
        val label = (id % 2).toInt
        val v: Seq[Float] =
          if (label == 0) Seq.fill(4)(0.5f)
          else Seq.fill(4)(if (inA) u else -u)
        (id, label, v)
      }
      rows.toDF("vec_id", "label", "embedding")
        .write.parquet(s"$work/embeddings.parquet")
      val out = VectorQueries.q315_embedding_drift(spark, work).collect()
        .map(r => r.getInt(1 - 1) -> r).toMap // label -> row
      assert(out(0).getLong(3) === 0L && out(0).getLong(4) === 0L,
        "identical halves must read zero drift")
      // +u half vs -u half: per-coordinate |floor(.25e6) - floor(-.25e6)|
      // = 500000 micro; L1 over 4 dims = 2,000,000
      assert(out(1).getLong(4) === 500000L,
        s"planted per-dim drift ${out(1).getLong(4)} != 500000")
      assert(out(1).getLong(3) === 2000000L,
        s"planted L1 drift ${out(1).getLong(3)} != 2000000")
    } finally fs.delete(new Path(work), true)
  }

  // ---------- q308: farthest-point diversity sample ----------

  private def cluster(cx: Double, ids: Seq[Long]): Seq[(Long, Seq[Double])] =
    ids.map(id => (id, Seq.tabulate(4)(j =>
      cx + (if (j == (id % 4).toInt) 0.01 * (id % 3).toInt else 0.0))))

  test("q308: greedy k-center covers planted clusters one-per-cluster and is deterministic") {
    import spark.implicits._
    val pts = (cluster(0.0, Seq(1L, 2L, 3L)) ++ cluster(100.0, Seq(10L, 11L)) ++
      cluster(-100.0, Seq(20L, 21L, 22L))).toDF("vec_id", "v")
    val picks = VectorQueries.farthestPoints(pts, "vec_id", "v", 3).map(_._1)
    def clusterOf(id: Long) = if (id < 10) 0 else if (id < 20) 1 else 2
    assert(picks.map(clusterOf).distinct.size === 3,
      s"picks $picks do not cover all three planted clusters")
    val again = VectorQueries.farthestPoints(pts, "vec_id", "v", 3).map(_._1)
    assert(picks === again, "selection is not deterministic")
  }

  test("q308: coverage radius is within 2x of the brute-force optimal k-center radius") {
    import spark.implicits._
    val raw = Seq(
      1L -> Seq(0.0, 0.0), 2L -> Seq(1.0, 0.5), 3L -> Seq(9.0, 9.0),
      4L -> Seq(10.0, 8.5), 5L -> Seq(-7.0, 3.0), 6L -> Seq(-8.0, 2.0),
      7L -> Seq(0.5, -0.5), 8L -> Seq(9.5, 9.5))
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def radius(centers: Seq[Long]) = raw.map { case (_, v) =>
      centers.map(c => d2(raw.find(_._1 == c).get._2, v)).min
    }.max
    val k = 3
    val opt = raw.map(_._1).combinations(k).map(radius).min
    val picks = VectorQueries.farthestPoints(
      raw.toDF("vec_id", "v"), "vec_id", "v", k).map(_._1)
    // squared distances: the 2x radius guarantee is 4x on squares
    assert(radius(picks) <= 4.0 * opt + 1e-9,
      s"greedy radius^2 ${radius(picks)} exceeds 4x optimal $opt")
  }

  test("q312: every vector assigned, all centers self-covered, radius bounded by the last pick distance") {
    val dir = sf("sf0.001")
    val rows = VectorQueries.q312_diversity_assign(spark, dir).collect()
    assert(rows.length === VectorQueries.fpsK, "a center covers nothing — not even itself")
    assert(rows.map(_.getLong(2)).sum === 500L, "assignment is not a partition of the corpus")
    val lastPickD = VectorQueries.q308_diversity_sample(spark, dir)
      .collect().map(_.getDouble(2)).last
    val maxRadius = rows.map(_.getDouble(3)).max
    assert(maxRadius <= lastPickD + 1e-6,
      s"coverage radius $maxRadius exceeds the final selection distance $lastPickD")
  }

  test("q308 on the real corpus: k distinct picks, first is min id, distances non-increasing") {
    val out = VectorQueries.q308_diversity_sample(spark, sf("sf0.001")).collect()
    assert(out.length === VectorQueries.fpsK)
    val ids = out.map(_.getLong(1))
    assert(ids.distinct.length === ids.length, "duplicate picks")
    val dists = out.sortBy(_.getLong(0)).map(_.getDouble(2)).drop(1)
    assert(dists.zip(dists.tail).forall { case (a, b) => b <= a + 1e-9 },
      "selection-time distances are not non-increasing")
  }
}
