package graft.queries

import graft.SparkSpec
import java.security.MessageDigest
import java.sql.Timestamp

/** Pins for the round-10 continuation operators (q132, q134–q139):
  * exact-invariant corpora for DSIR, replica tertiles, hand-computed
  * decay weights incl. the shift clamp, CMS no-underestimate/
  * no-collision exactness, and the domain-blocklist decile rule on a
  * planted junk source.
  */
class Round10ContSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(dir: String, rows: Seq[(Long, String, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, text, lang, source) => (id, text, lang, source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  // ---------- q132 ----------

  test("q132: an all-target corpus scores exactly 10^6 everywhere (ratio identity)") {
    val dir = tmp("dsir")
    writeDocs(dir, Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
      (2L, "a stitch in time saves nine every time", "en", "s0"),
      (3L, "all work and no play makes a dull day", "en", "s1")))
    val got = CurationQueries.q132_dsir(spark, dir).collect()
    assert(got.length === 3)
    // target == raw → every bucket ratio is exactly 10^6, so every
    // doc's mean is exactly 10^6 and everything is selected
    assert(got.forall(r => r.getLong(3) == 1000000L && r.getBoolean(4)))
  }

  test("q132: no target slice → all scores 0, nothing selected; short docs drop") {
    val dir = tmp("dsir0")
    writeDocs(dir, Seq(
      (1L, "uno dos tres cuatro cinco", "es", "s0"),
      (2L, "eins zwei drei vier", "de", "s0"),
      (3L, "solo", "es", "s1"))) // 1 token → no bigram → excluded
    val got = CurationQueries.q132_dsir(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(got.forall(r => r.getLong(3) == 0L && !r.getBoolean(4)))
  }

  // ---------- q134 ----------

  test("q134: buckets match a collected-replica NTILE over the scored corpus") {
    val dir = sf()
    val docs = graft.Tables.load(spark, dir, "documents")
    val scored = LanguageModel.scoreDocs(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select("doc_id", "lang", "fluency_micro")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // sequential replica of NTILE(3) over (fluency desc, doc_id asc)
    val expected = scored.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      val sorted = rows.sortBy(r => (-r._3, r._1))
      val n = sorted.length
      sorted.zipWithIndex.map { case ((id, _, fl), i) =>
        // NTILE(3): first n%3 buckets get ceil(n/3) rows
        val big = n % 3
        val cap = n / 3 + 1
        val bucket =
          if (big > 0 && i < big * cap) i / cap
          else if (big > 0) big + (i - big * cap) / (n / 3)
          else i / (n / 3)
        (lang, Seq("head", "middle", "tail")(bucket), id, fl)
      }
    }.toSeq
    val expAgg = expected.groupBy(t => (t._1, t._2)).map { case ((lang, b), rs) =>
      (lang, b, rs.length.toLong, rs.map(_._4).min, rs.map(_._4).max, rs.map(_._3).sum)
    }.toSet
    val got = LanguageModel.q134_perplexity_buckets(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === expAgg)
  }

  // ---------- q135 ----------

  test("q135: weekly half-life weights, 30-week clamp, purchases only") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-31 10:00:00"), 1L, "purchase", 100.0, "{}"), // age 0w → 10^6
      (2L, ts("2024-01-24 10:00:00"), 1L, "purchase", 50.0, "{}"),  // age 1w → 500000
      (3L, ts("2024-01-03 10:00:00"), 1L, "purchase", 10.0, "{}"),  // age 4w → 62500
      (4L, ts("2024-01-31 10:00:00"), 1L, "view", 999.0, "{}"),     // not a purchase
      (5L, ts("2020-01-01 10:00:00"), 2L, "purchase", 1.0, "{}"))   // clamped → weight 0
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmp("decay")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.q135_decay_score(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 3L, 16000L, 10000L * 1000000L + 5000L * 500000L + 1000L * 62500L),
      (2L, 1L, 100L, 0L)))
  }

  // ---------- q136 ----------

  test("q136: single-token corpus estimates exactly (no collisions possible)") {
    val dir = tmp("cms1")
    writeDocs(dir, Seq(
      (1L, "foo foo foo", "en", "s0"),
      (2L, "foo foo", "en", "s0")))
    val got = MiningQueries.q136_countmin(spark, dir).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ("foo", 5L, 5L, 0L))
  }

  test("q136: CMS never underestimates; probes are the top-k by true count") {
    val got = MiningQueries.q136_countmin(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === MiningQueries.cmsProbeK)
    assert(got.forall { case (_, cTrue, est, over) => est >= cTrue && over == est - cTrue })
    // ordered by (c_true desc, w asc) — the true heavy set
    assert(got.map(-_._2).toSeq === got.map(-_._2).sortBy(identity).toSeq)
  }

  // ---------- q137 ----------

  private def md5Shard(docId: Long): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 2), 16) % 4
  }

  test("q137: the planted junk source's domains are exactly the blocked decile") {
    val good = "the quick brown fox and the lazy dog are in the house " +
      "with a pen and some paper on the long wooden table by the door"
    val bad = "zz@#"
    val sources = (0 until 11).map(i => s"good$i") :+ "junk"
    val rows = for {
      (src, si) <- sources.zipWithIndex
      j <- 0 until 40
    } yield {
      val id = (si * 40 + j).toLong
      (id, if (src == "junk") bad else good, "en", src)
    }
    // precondition of the pin: every (source, md5-shard) domain is
    // eligible (≥ domainMinDocs docs) so E = 48 and floor(E/10) = 4 —
    // exactly the junk source's four domains, which tie at the lowest
    // mean and sort first
    val shardCounts = rows.groupBy(r => (r._4, md5Shard(r._1))).map(_._2.size)
    assert(shardCounts.forall(_ >= ScrubQueries.domainMinDocs))
    val dir = tmp("domains")
    writeDocs(dir, rows)
    val got = ScrubQueries.q137_domain_policy(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val junk = got.find(_._1 == "junk").get
    assert(junk === (("junk", 4L, 0L, 40L))) // all four domains blocked, all docs dropped
    assert(got.filter(_._1 != "junk").forall(r => r._2 == 0L && r._4 == 0L))
  }

  // ---------- q138 ----------

  test("q138: hardest negatives rank by cosine; margin is vs the best positive") {
    import spark.implicits._
    def v(x: Double, y: Double): Seq[Float] =
      (Seq(x, y) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    val rows = Seq(
      (0L, v(1.0, 0.0), 0),    // query (vec_id < 50)
      (100L, v(0.9, 0.1), 0),  // its positive
      (200L, v(1.0, 0.01), 1), // hard negative (cos ≈ 1)
      (201L, v(0.0, 1.0), 1),  // easy negative (cos = 0)
      (202L, v(0.7, 0.3), 2))  // middle negative
    val dir = tmp("hardneg")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = VectorQueries.q138_hard_negatives(spark, dir).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.map(_._2).toSeq === Seq(200L, 202L, 201L)) // cos-desc order
    val posBest = got.head._3 + got.head._4 // cos + margin reconstructs pos_best
    got.foreach { case (_, _, cos, margin) =>
      assert(math.abs((posBest - cos) - margin) < 1e-12)
    }
    assert(got.head._4 < 0) // the hard negative outscores the positive
  }

  // ---------- q139 ----------

  test("q139: first-seen shingles count as novel, in doc_id order") {
    val dir = tmp("novelty")
    writeDocs(dir, Seq(
      (1L, "a b c d", "en", "s0"),  // shingles {abc, bcd}: both novel
      (2L, "a b c d", "en", "s0"),  // exact dup: nothing novel
      (3L, "b c d e", "en", "s0"))) // {bcd, cde}: cde novel → 1/2
    val got = TextQueries.q139_novelty(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 2L, 1000000L),
      (2L, 2L, 0L, 0L),
      (3L, 2L, 1L, 500000L)))
  }

  test("q137: fewer than 10 eligible domains blocks nothing") {
    val rows = (0 until 2).flatMap { si =>
      (0 until 40).map { j =>
        val id = (si * 40 + j).toLong
        (id, "zz@#", "en", s"s$si") // even all-junk: decile of 8 is 0
      }
    }
    val dir = tmp("domains0")
    writeDocs(dir, rows)
    val got = ScrubQueries.q137_domain_policy(spark, dir).collect()
    assert(got.forall(r => r.getLong(1) == 0L && r.getLong(3) == 0L))
  }
}
