package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13 operator pins: the correlated-aggregate relational shapes
  * (q236–q240) against hand-built planted fixtures, so the keep/drop
  * semantics of each threshold are pinned independently of the DuckDB
  * oracle (which re-proves them on the synthetic corpus).
  */
class Round13OpsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")

  private def writeNation(dir: String): Unit = {
    import spark.implicits._
    Seq((0, "ALPHA", 0), (1, "BETA", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
  }

  private def writeLineitem(
      dir: String,
      rows: Seq[(Long, Long, Long, Int, Double, Double, Double, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (ok, pk, sk, ln, q, px, d, rf, ship) =>
      (ok, pk, sk, ln, q, px, d, 0.0, rf, "O", ts(ship))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  // ---------- q236 ----------

  test("q236: only lines strictly under 20% of the part's average quantity count") {
    val dir = tmp("q236")
    writeLineitem(dir, Seq(
      // part 1: quantities 1,10,10,10 -> avg 7.75; 0.2*avg = 1.55 -> only qty 1
      (1L, 1L, 1L, 1, 1.0, 11.0, 0.0, "N", "1997-02-01"),
      (1L, 1L, 1L, 2, 10.0, 100.0, 0.0, "N", "1997-02-01"),
      (2L, 1L, 1L, 1, 10.0, 100.0, 0.0, "N", "1997-02-01"),
      (2L, 1L, 1L, 2, 10.0, 100.0, 0.0, "N", "1997-02-01"),
      // part 2: quantities 5,5 -> nothing under 20% of avg (=1)
      (3L, 2L, 1L, 1, 5.0, 50.0, 0.0, "N", "1997-02-01"),
      (3L, 2L, 1L, 2, 5.0, 50.0, 0.0, "N", "1997-02-01")))
    import spark.implicits._
    Seq((1L, "pA", "B1", "t", 1, 1.0), (2L, "pB", "B2", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = RelationalQueries.q236_small_qty_revenue(spark, dir).collect()
    assert(got.length === 1, got.mkString(";"))
    assert(got.head.getString(0) === "B1")
    assert(got.head.getLong(1) === 1L)
    assert(got.head.getDouble(2) === 11.0)
  }

  // ---------- q237 ----------

  test("q237: share threshold keeps a dominant part, drops a trace part") {
    val dir = tmp("q237")
    writeNation(dir)
    import spark.implicits._
    Seq((1L, "s1", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    // nation total $10004; keep iff value * 2000 > total:
    //   part 1 = $10000 (kept), part 2 = $4 (4*2000 = 8000 < 10004, dropped)
    writeLineitem(dir, Seq(
      (1L, 1L, 1L, 1, 1.0, 10000.0, 0.0, "N", "1997-02-01"),
      (2L, 2L, 1L, 1, 1.0, 4.0, 0.0, "N", "1997-02-01")))
    val got = RelationalQueries.q237_value_share(spark, dir).collect()
    assert(got.length === 1, got.mkString(";"))
    assert(got.head.getString(0) === "ALPHA")
    assert(got.head.getLong(1) === 1L)
    assert(got.head.getDouble(2) === 10000.0)
  }

  // ---------- q238 ----------

  test("q238: rich AND lapsed only — above avg positive balance, no recent order") {
    val dir = tmp("q238")
    writeNation(dir)
    import spark.implicits._
    // positive balances 100,10,100 -> avg 70; rich = c1,c3; lapsed = c1,c2,c4
    Seq((1L, "c1", 0, 100.0, "M"), (2L, "c2", 0, 10.0, "M"),
      (3L, "c3", 1, 100.0, "M"), (4L, "c4", 1, -5.0, "M"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // cutoff is 2000-07-01: c1's and c2's orders predate it (lapsed),
    // c3's is on/after it (recent -> excluded by the anti-join)
    Seq((10L, 1L, "O", 1.0, ts("1996-05-01"), "1-URGENT"),
      (11L, 2L, "O", 1.0, ts("1998-05-01"), "1-URGENT"),
      (12L, 3L, "O", 1.0, ts("2001-02-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = RelationalQueries.q238_rich_no_orders(spark, dir).collect()
    assert(got.length === 1, got.mkString(";"))
    assert(got.head.getString(0) === "ALPHA") // c1 only
    assert(got.head.getLong(1) === 1L)
    assert(got.head.getDouble(2) === 100.0)
  }

  // ---------- q239 ----------

  test("q239: window-scoped argmax emits every tied supplier, ignores out-of-window revenue") {
    val dir = tmp("q239")
    import spark.implicits._
    Seq((1L, "s1", 0, 0.0), (2L, "s2", 0, 0.0), (3L, "s3", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    writeLineitem(dir, Seq(
      // s1: $100 inside the 1997 H1 window, $999 outside (must not count)
      (1L, 1L, 1L, 1, 1.0, 100.0, 0.0, "N", "1997-03-01"),
      (2L, 1L, 1L, 1, 1.0, 999.0, 0.0, "N", "1998-03-01"),
      // s2: $90 inside
      (3L, 1L, 2L, 1, 1.0, 90.0, 0.0, "N", "1997-04-01"),
      // s3: $100 inside -> ties s1
      (4L, 1L, 3L, 1, 1.0, 100.0, 0.0, "N", "1997-05-01")))
    val got = RelationalQueries.q239_max_revenue_supplier(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 100.0), (3L, 100.0)), got.mkString(";"))
  }

  // ---------- q241 / q242 fixture: a full tiny star schema ----------

  /** Writes every table q241/q242 read, planting ONE orphan lineitem
    * (order 99 does not exist) and ONE duplicated order key. */
  private def writeStar(dir: String): Unit = {
    import spark.implicits._
    Seq((0, "ALPHA", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((0, "R0")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    Seq((1L, "c1", 0, 1.0, "M")).toDF(
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((1L, "s1", 0, 0.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((1L, "pA", "B1", "t", 1, 1.0)).toDF(
      "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // order key 10 DUPLICATED (double load); both reference customer 1
    Seq((10L, 1L, "O", 1.0, ts("1997-01-01"), "1-URGENT"),
      (10L, 1L, "O", 1.0, ts("1997-01-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // line 2 references order 99 -> orphan in lineitem->orders
    writeLineitem(dir, Seq(
      (10L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1997-01-02"),
      (99L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1997-01-02")))
    Seq((1L, "2024-01-01 00:00:00", 1L, "view", 1.0, "{}")).map { case (i, t, u, e, v, p) =>
      (i, java.sql.Timestamp.valueOf(t), u, e, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((1L, "hello world", "en", "web", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, Array(1.0f), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("q241: the planted orphan is found; intact relations report zero") {
    val dir = tmp("q241")
    writeStar(dir)
    val got = ConsistencyQueries.q241_referential_integrity(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("lineitem->orders") === ((2L, 1L, 1L)))
    assert(got("orders->customer") === ((2L, 0L, 0L)))
    assert(got("customer->nation") === ((1L, 0L, 0L)))
    assert(got.size === 7)
    assert(got.values.map(_._2).sum === 1L, "exactly one orphan planted")
  }

  test("q242: the planted duplicate key is found; composite lineitem key is clean") {
    val dir = tmp("q242")
    writeStar(dir)
    val got = ConsistencyQueries.q242_pk_violations(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got("orders") === ((2L, 1L, 1L, 2L)))
    // the two lineitem rows share a linenumber but not an orderkey
    assert(got("lineitem") === ((2L, 2L, 0L, 1L)))
    assert(got.size === 7)
  }

  // ---------- q243 ----------

  test("q243: life-table counts match the hand-computed survival curve") {
    val dir = tmp("q243")
    import spark.implicits._
    // users: lifetimes 0h (single event), 2h, 2h, 5h
    val rows = Seq(
      (1L, "2024-01-01 00:00:00", 1L), // u1: one event -> 0h
      (2L, "2024-01-01 00:00:00", 2L), (3L, "2024-01-01 02:30:00", 2L), // 2h
      (4L, "2024-01-01 01:00:00", 3L), (5L, "2024-01-01 03:10:00", 3L), // 2h
      (6L, "2024-01-01 00:00:00", 4L), (7L, "2024-01-01 05:59:00", 4L)) // 5h
    rows.map { case (i, t, u) =>
      (i, java.sql.Timestamp.valueOf(t), u, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.q243_survival(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // d=0: churn 1 of 4 at risk; survival past 0 = 3/4
    assert(got(0L) === ((1L, 4L, 750000L, 250000L)))
    // d=2: churn 2 of 3 at risk; survival past 2 = 1/4
    assert(got(2L) === ((2L, 3L, 250000L, 666666L)))
    // d=5: churn 1 of 1; survival past 5 = 0
    assert(got(5L) === ((1L, 1L, 0L, 1000000L)))
    assert(got.size === 3)
  }

  // ---------- q244 ----------

  test("q244: Spearman components match a driver-side rank replica") {
    val dir = tmp("q244")
    import spark.implicits._
    // 3 copies of a short text, 2 of a long one, 1 unique
    val docs = Seq(
      (1L, "dup dup dup"), (2L, "dup dup dup"), (3L, "dup dup dup"),
      (4L, "the quick brown fox jumps over the lazy dog " * 3),
      (5L, "the quick brown fox jumps over the lazy dog " * 3),
      (6L, "a singleton document with its own text entirely"))
    docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CurationQueries.q244_dup_quality_corr(spark, dir).collect().head
    // driver replica: dup sizes and quality from the engine's own
    // per-doc outputs (quality is pinned elsewhere; here we pin the
    // RANK arithmetic)
    val per = {
      val base = graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
      val sizes = base.groupBy("h").agg(count(lit(1)).as("ds"))
      base.join(sizes, Seq("h")).select("doc_id", "ds", "q").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val n = per.length.toLong
    val ra = per.sortBy(p => (p._2, p._1)).map(_._1).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val rb = per.sortBy(p => (p._3, p._1)).map(_._1).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val sumD2 = per.map(p => { val d = ra(p._1) - rb(p._1); d * d }).sum
    assert(got.getLong(0) === n)
    assert(got.getLong(1) === sumD2)
    val rho = 1.0 - (6.0 * sumD2.toDouble) / (n * (n * n - 1)).toDouble
    assert(got.getDouble(2) === rho)
  }

  private def writeDocs(dir: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, src, text) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  // ---------- q245 ----------

  test("q245: shared 8-token prefixes cluster; different bodies don't split them") {
    val dir = tmp("q245")
    val header = "copyright notice all rights reserved by the corp"  // 8 tokens
    writeDocs(dir, Seq(
      (1L, "a", header + " body one has unique content"),
      (2L, "b", header + " a completely different body follows here"),
      (3L, "a", "no shared header in this document at all today")))
    val got = CorpusProfileQueries.q245_prefix_dedup(spark, dir).collect()
    assert(got.length === 1, got.mkString(";"))
    val r = got.head
    assert(r.getLong(1) === 2L && r.getLong(2) === 1L && r.getLong(3) === 2L)
    assert(r.getLong(4) === 13L + 14L) // token counts of docs 1 and 2
  }

  // ---------- q246 ----------

  test("q246: rank, rank*freq and ppm-of-top are exact on a known distribution") {
    val dir = tmp("q246")
    // freq: aa=4, bb=2, cc=1 (tie-break alphabetical would apply on equals)
    writeDocs(dir, Seq((1L, "a", "aa aa bb"), (2L, "a", "aa aa bb cc")))
    val got = CorpusProfileQueries.q246_zipf_head(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, "aa", 4L, 4L, 1000000L),
      (2L, "bb", 2L, 4L, 500000L),
      (3L, "cc", 1L, 3L, 250000L)))
  }

  // ---------- q247 ----------

  test("q247: pooled TTR counts only docs long enough for each prefix size") {
    val dir = tmp("q247")
    // doc 1: 60 tokens, all identical -> d50 = 1; too short for 100/200
    // doc 2: 120 tokens alternating x y -> d50 = 2, d100 = 2; short for 200
    writeDocs(dir, Seq(
      (1L, "a", Seq.fill(60)("same").mkString(" ")),
      (2L, "a", (1 to 120).map(i => if (i % 2 == 0) "x" else "y").mkString(" "))))
    val got = CorpusProfileQueries.q247_ttr_curve(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (50L, 2L, 3L, 3L * 1000000L / 100L),   // N=50: docs 1+2, 1+2 distinct
      (100L, 1L, 2L, 2L * 1000000L / 100L),  // N=100: doc 2 only
      (200L, 0L, 0L, 0L)))                   // N=200: none qualify
  }

  // ---------- q248 ----------

  test("q248: a tail->head boundary match is found; hot boundaries are dropped") {
    val dir = tmp("q248")
    val cut = "and so the story continues"
    // docA ends with the 4-token boundary that docB starts with
    val a = "once upon a time there was a tale that ends with " + cut.split(" ").drop(1).mkString(" ")
    val b = cut.split(" ").drop(1).mkString(" ") + " into the next document body here today"
    // 20 docs sharing one hot head boundary (> dfCut = 16) must be dropped
    val hot = (10L to 29L).map(i =>
      (i, "h", "common hot header tokens here " + s"unique tail $i padding words to reach eight tokens"))
    writeDocs(dir, Seq((1L, "a", a), (2L, "b", b)) ++ hot)
    val got = CorpusProfileQueries.q248_boundary_join(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)), got.mkString(";"))
  }

  // ---------- q249 ----------

  test("q249: merged era states equal the one-shot profile, nulls and all") {
    import spark.implicits._
    import graft.operators.IncrementalProfile
    val rows = Seq(
      (1L, Some(10.0), Some("aa"), 1),
      (2L, None, Some("bbbb"), 1),
      (3L, Some(-4.0), None, 2),
      (4L, Some(99.0), Some("c"), 2))
    val df = rows.map { case (k, d, s, era) => (k, d.map(Double.box).orNull, s.orNull, era) }
      .toDF("k", "x", "s", "era")
    val numeric = Seq("k", "x"); val strings = Seq("s")
    val whole = IncrementalProfile.finish(
      IncrementalProfile.state(df, numeric, strings))
    val merged = IncrementalProfile.finish(IncrementalProfile.merge(Seq(
      IncrementalProfile.state(df.filter(col("era") === 1), numeric, strings),
      IncrementalProfile.state(df.filter(col("era") === 2), numeric, strings))))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "incremental profile diverged from the rescan")
    val got = whole.collect().map(r => r.getString(0) -> r).toMap
    assert(got("x").getLong(1) === 3L && got("x").getLong(2) === 1L)
    assert(got("x").getDouble(3) === -4.0 && got("x").getDouble(4) === 99.0)
    assert(got("s").getString(5) === "aa" && got("s").getString(6) === "c")
    // avg_len_micro: (2 + 4 + 1) / 3 strings = 2.333... -> 2333333
    assert(got("s").getLong(7) === 2333333L)
  }

  // ---------- q251 ----------

  test("q251: caption screens and caption-level dedup hold on a planted fixture") {
    val dir = tmp("q251")
    import spark.implicits._
    val goodCaption = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      // two docs sharing the same 12-token caption prefix -> one pair
      (1L, goodCaption + " trailing body one", "en"),
      (2L, goodCaption + " other trailing body", "en"),
      // different caption, passes screens
      (3L, "a completely different English text that is long enough to pass the screens", "en"),
      // wrong language -> dropped
      (4L, goodCaption, "de"),
      // too short -> dropped
      (5L, "too short", "en"))
    docs.map { case (id, t, lang) => (id, t, lang, "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.multimodal.Multimodal.q251_caption_pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(6), r.getLong(7)))
    assert(got.toSeq === Seq((1L, 12L, 2L), (3L, 12L, 1L)), got.mkString(";"))
  }

  // ---------- q252 ----------

  test("q252: tombstone-masked IVF read is bit-identical to rebuild-without-erased") {
    val dir = sf("sf0.001")
    val masked = VectorQueries.q252_ivf_erasure(spark, dir)
    val rebuilt = VectorQueries.ivfRebuiltWithout(spark, dir)
    assert(masked.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(masked).isEmpty,
      "erasure mask diverged from the rebuild")
    // and the erased ids are really gone from the neighbor column
    val erasedNeighbors = masked
      .filter(VectorQueries.ivfErased(col("n_id"))).count()
    assert(erasedNeighbors === 0L)
    assert(masked.count() > 0L)
  }

  // ---------- q240 ----------

  test("q240: returned revenue ranks only R-flag lines on in-window orders") {
    val dir = tmp("q240")
    writeNation(dir)
    import spark.implicits._
    Seq((1L, "c1", 0, 0.0, "M"), (2L, "c2", 0, 0.0, "M"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, "O", 1.0, ts("1996-08-01"), "1-URGENT"),   // in window
      (11L, 2L, "O", 1.0, ts("1996-09-01"), "1-URGENT"),     // in window
      (12L, 1L, "O", 1.0, ts("1997-03-01"), "1-URGENT"))     // out of window
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    writeLineitem(dir, Seq(
      (10L, 1L, 1L, 1, 1.0, 50.0, 0.0, "R", "1996-08-10"),  // counts: c1 +50
      (10L, 1L, 1L, 2, 1.0, 70.0, 0.0, "A", "1996-08-10"),  // wrong flag
      (11L, 1L, 1L, 1, 1.0, 80.0, 0.0, "R", "1996-09-10"),  // counts: c2 +80
      (12L, 1L, 1L, 1, 1.0, 500.0, 0.0, "R", "1997-03-10"))) // out-of-window order
    val got = RelationalQueries.q240_returned_top_customers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.toSeq === Seq((2L, 80.0), (1L, 50.0)), got.mkString(";"))
  }

  // ---------- q253 ----------

  test("q253: patchable failures recover, whitelist failures stay dead, mixed stays dead") {
    val dir = tmp("q253")
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    Seq(
      // clean row: not in the ledger at all
      (1L, t, 1L, "view", 50.0, "{}"),
      // value below floor only -> patch clamps -> recovered
      (2L, t, 1L, "click", 5.0, "{\"a\":1}"),
      // off-whitelist type only -> no patch -> dead
      (3L, t, 1L, "error", 50.0, "{}"),
      // both -> value patches but the type failure keeps it dead
      (4L, t, 1L, "error", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = PipelineQueries.q253_dead_letter(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val re = "event_type=regex: ^(view|click|purchase|signup)$"
    assert(got.toSeq === Seq(
      (re, 1L, 0L, 1L),
      (s"$re;value=minValue: 10", 1L, 0L, 1L),
      ("value=minValue: 10", 1L, 1L, 0L)), got.mkString(";"))
  }

  // ---------- q254 ----------

  test("q254: regional argmin picks the cheapest in-region offer, ties to min suppkey") {
    val dir = tmp("q254")
    import spark.implicits._
    Seq((0, "EUNAT", 0), (1, "FARNAT", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((0, "EUROPE"), (1, "ASIA"))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    Seq((1L, "s1", 0, 0.0), (2L, "s2", 0, 0.0), (3L, "s3", 1, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((1L, "p1", "B1", "t", 1, 1.0), (2L, "p2", "B2", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    writeLineitem(dir, Seq(
      // part 1: s2 offers 90 (cheapest in-region); s3 offers 10 but is
      // out of region; s1 offers 100
      (1L, 1L, 1L, 1, 1.0, 100.0, 0.0, "N", "1997-02-01"),
      (1L, 1L, 2L, 2, 1.0, 90.0, 0.0, "N", "1997-02-01"),
      (2L, 1L, 3L, 1, 1.0, 10.0, 0.0, "N", "1997-02-01"),
      // part 2: s1 and s2 tie at 50 -> min suppkey (s1) wins
      (3L, 2L, 2L, 1, 1.0, 50.0, 0.0, "N", "1997-02-01"),
      (3L, 2L, 1L, 2, 1.0, 50.0, 0.0, "N", "1997-02-01")))
    val got = RelationalQueries.q254_cheapest_supplier(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(5)))
    assert(got.toSeq === Seq((1L, 2L, 900000L), (2L, 1L, 500000L)),
      got.mkString(";"))
  }

  // ---------- q255 ----------

  test("q255: triangle vertices score exact ppm coefficients; degree-1 vertices drop") {
    val dir = tmp("q255")
    import spark.implicits._
    // order 10 co-supplies {1,2,3} (a K3), order 11 adds edge 3-4
    writeLineitem(dir, Seq(
      (10L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1995-02-01"),
      (10L, 1L, 2L, 2, 1.0, 1.0, 0.0, "N", "1995-02-01"),
      (10L, 1L, 3L, 3, 1.0, 1.0, 0.0, "N", "1995-02-01"),
      (11L, 1L, 3L, 1, 1.0, 1.0, 0.0, "N", "1995-02-01"),
      (11L, 1L, 4L, 2, 1.0, 1.0, 0.0, "N", "1995-02-01")))
    Seq((10L, 1L, "O", 1.0, ts("1995-02-01"), "1-URGENT"),
      (11L, 1L, "O", 1.0, ts("1995-02-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = GraphQueries.q255_clustering_coeff(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // v1: deg 2, tri 1 -> 1.0; v2: same; v3: deg 3, tri 1 -> 1/3; v4 dropped
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, 1000000L),
      (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L)), got.mkString(";"))
  }

  // ---------- q256 ----------

  test("q256: exact scaled CUSUM closes at zero and peaks at the level shift") {
    val dir = tmp("q256")
    import spark.implicits._
    // daily counts 1,1,4: T=6, D=3 -> cusum -3, -6, 0; peak on day 2
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L),
      (2L, "2024-01-02 10:00:00", 1L),
      (3L, "2024-01-03 01:00:00", 1L), (4L, "2024-01-03 02:00:00", 1L),
      (5L, "2024-01-03 03:00:00", 1L), (6L, "2024-01-03 04:00:00", 1L))
    rows.map { case (i, t, u) =>
      (i, java.sql.Timestamp.valueOf(t), u, "view", 50.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.q256_cusum(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq === Seq(
      ("2024-01-01", 1L, -3L, false),
      ("2024-01-02", 1L, -6L, true),
      ("2024-01-03", 4L, 0L, false)), got.mkString(";"))
  }

  // ---------- q257 ----------

  test("q257: bucket fences land on stub ratios; a 34-doc bucket splits into 2 batches") {
    val dir = tmp("q257")
    import spark.implicits._
    // stub dims: w = 64 + len%64, h = 64 + (len DIV 64)%64
    // len 4096m  -> (64, 64) ratio 100 -> bucket 100
    // len 63     -> (127, 64) ratio 198 -> bucket 178
    // len 4032   -> (64, 127) ratio 50 -> bucket 56
    val docs =
      (1L to 34L).map(i => (i, "a" * (4096 * i.toInt))) ++
        Seq((40L, "b" * 63), (41L, "c" * 4032))
    docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.multimodal.Multimodal.q257_aspect_buckets(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byDoc = got.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byDoc(40L) === ((178L, 0L)) && byDoc(41L) === ((56L, 0L)))
    (1L to 32L).foreach(i => assert(byDoc(i) === ((100L, 0L)), s"doc $i"))
    assert(byDoc(33L) === ((100L, 1L)) && byDoc(34L) === ((100L, 1L)))
  }

  // ---------- q258 ----------

  test("q258: a global-matching class passes t-closeness; skewed classes fail") {
    val dir = tmp("q258")
    import spark.implicits._
    // global: nation0 x6, nation1 x2 (cum 750000 at d0)
    // X {0,1}: cum d0 500000 -> emd 250000 (fail)
    // Y {0,0}: cum d0 1000000 -> emd 250000 (fail)
    // Z {0,0,0,1}: cum d0 750000 -> emd 0 (pass)
    val rows = Seq(
      ("X", 0), ("X", 1),
      ("Y", 0), ("Y", 0),
      ("Z", 0), ("Z", 0), ("Z", 0), ("Z", 1))
    rows.zipWithIndex.map { case ((seg, nat), i) =>
      (i.toLong + 1L, s"c$i", nat, 500.0, seg)
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = GovernanceQueries.q258_t_closeness(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      ("X", 2L, 250000L, false),
      ("Y", 2L, 250000L, false),
      ("Z", 4L, 0L, true)), got.mkString(";"))
  }

  // ---------- q259 ----------

  test("q259: ACF matches hand computation on an alternating series; empty lags drop") {
    val dir = tmp("q259")
    import spark.implicits._
    // daily counts 2,1,2,1 -> a = 4c-6 = [2,-2,2,-2], den 16
    val stamps = Seq(
      "2024-01-01 01:00:00", "2024-01-01 02:00:00",
      "2024-01-02 01:00:00",
      "2024-01-03 01:00:00", "2024-01-03 02:00:00",
      "2024-01-04 01:00:00")
    stamps.zipWithIndex.map { case (t, i) =>
      (i.toLong, java.sql.Timestamp.valueOf(t), 1L, "view", 50.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.q259_autocorr(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(got.toSeq === Seq(
      (1L, 3L, -0.75), (2L, 2L, 0.5), (3L, 1L, -0.25)), got.mkString(";"))
  }

  // ---------- q261 ----------

  test("q261: compacted-index pairs equal the tombstone-masked read; erased ids are gone") {
    val dir = sf("sf0.001")
    val compacted = TextQueries.q261_index_compact(spark, dir)
    val masked = TextQueries.q229_index_erasure(spark, dir)
    assert(compacted.exceptAll(masked).isEmpty && masked.exceptAll(compacted).isEmpty,
      "compaction diverged from the masked read")
    val erased = (c: org.apache.spark.sql.Column) =>
      substring(md5(concat(lit("del|"), c.cast("string"))), 1, 1).isin("0", "1")
    assert(compacted.filter(erased(col("a_id")) || erased(col("b_id"))).count() === 0L)
    assert(compacted.count() > 0L)
  }

  // ---------- q262 ----------

  test("q262: LTV cells count buyers, exact cents, and cumulate per cohort") {
    val dir = tmp("q262")
    import spark.implicits._
    // 2024-01-01 and 2024-01-08 are Mondays (clean week truncation)
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 999.0),
      (2L, "2024-01-02 10:00:00", 1L, "purchase", 10.0),
      (3L, "2024-01-08 10:00:00", 1L, "purchase", 20.0),
      (4L, "2024-01-08 11:00:00", 2L, "purchase", 5.5))
    rows.map { case (i, t, u, et, v) =>
      (i, java.sql.Timestamp.valueOf(t), u, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.q262_cohort_ltv(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      ("2024-01-01", 0, 1L, 1000L, 1000L),
      ("2024-01-01", 1, 1L, 2000L, 3000L),
      ("2024-01-08", 0, 1L, 550L, 550L)), got.mkString(";"))
  }

  // ---------- q263 ----------

  test("q263: the planted early shipment is the one violation; lead stats are exact") {
    val dir = tmp("q263")
    import spark.implicits._
    Seq((1L, 1L, "O", 1.0, ts("1997-01-10"), "1-URGENT"),
      (2L, 2L, "O", 1.0, ts("1997-01-20"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    writeLineitem(dir, Seq(
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1997-01-15"),
      (1L, 1L, 1L, 2, 1.0, 1.0, 0.0, "N", "1997-02-01"),
      (2L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1997-01-18")))
    val got = ConsistencyQueries.q263_temporal_integrity(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq(
      ("1997-01", 2L, 1L, -2L, 5L, 1500000L),
      ("1997-02", 1L, 0L, 22L, 22L, 22000000L)), got.mkString(";"))
  }

  // ---------- q264 ----------

  test("q264: organic + planted PII all detected; the redacted rescan is all-zero") {
    val dir = tmp("q264")
    import spark.implicits._
    Seq(
      (1L, "reach me at foo@bar.com now", "en", "weba", 27L),
      (2L, "no organic pii here at all", "en", "webb", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = ScrubQueries.q264_scrub_idempotence(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.toSeq === Seq(
      ("weba", 1L, 2L, 1L, 1L, 0L, 0L, 0L),
      ("webb", 1L, 1L, 1L, 1L, 0L, 0L, 0L)), got.mkString(";"))
  }

  // ---------- q265 ----------

  test("q265: U-shaped credit — 40/20/40 on a 3-touch path, all on a single touch") {
    val dir = tmp("q265")
    import spark.implicits._
    val rows = Seq(
      // user 1: view, click, view -> purchase 10.00 (k=3)
      (1L, "2024-01-10 01:00:00", 1L, "view", 0.0),
      (2L, "2024-01-10 02:00:00", 1L, "click", 0.0),
      (3L, "2024-01-10 03:00:00", 1L, "view", 0.0),
      (4L, "2024-01-10 04:00:00", 1L, "purchase", 10.0),
      // user 3: one view -> purchase 5.00 (k=1)
      (5L, "2024-01-10 01:00:00", 3L, "view", 0.0),
      (6L, "2024-01-10 02:00:00", 3L, "purchase", 5.0))
    rows.map { case (i, t, u, et, v) =>
      (i, java.sql.Timestamp.valueOf(t), u, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.q265_position_attribution(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, "click", 1L, 1000L * 200000L),
      (1L, "view", 2L, 1000L * 800000L),
      (3L, "view", 1L, 500L * 1000000L)), got.mkString(";"))
  }

  // ---------- q266 ----------

  test("q266: an order counts once however many late lines; out-of-quarter never") {
    val dir = tmp("q266")
    import spark.implicits._
    Seq((1L, 1L, "O", 1.0, ts("1997-01-10"), "1-URGENT"),
      (2L, 2L, "O", 1.0, ts("1997-02-10"), "2-HIGH"),
      (3L, 3L, "O", 1.0, ts("1996-06-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    writeLineitem(dir, Seq(
      // order 1: two late lines + one on-time -> counts ONCE
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1997-03-15"),
      (1L, 1L, 1L, 2, 1.0, 1.0, 0.0, "N", "1997-03-20"),
      (1L, 1L, 1L, 3, 1.0, 1.0, 0.0, "N", "1997-01-20"),
      // order 2: on-time only
      (2L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1997-02-20"),
      // order 3: late but out of quarter
      (3L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1996-09-01")))
    val got = RelationalQueries.q266_late_order_priorities(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("1-URGENT", 1L)), got.mkString(";"))
  }

  // ---------- q267 ----------

  test("q267: K3-plus-pendant degree axis carries exact CCDF ppm") {
    val dir = tmp("q267")
    import spark.implicits._
    writeLineitem(dir, Seq(
      (10L, 1L, 1L, 1, 1.0, 1.0, 0.0, "N", "1995-02-01"),
      (10L, 1L, 2L, 2, 1.0, 1.0, 0.0, "N", "1995-02-01"),
      (10L, 1L, 3L, 3, 1.0, 1.0, 0.0, "N", "1995-02-01"),
      (11L, 1L, 3L, 1, 1.0, 1.0, 0.0, "N", "1995-02-01"),
      (11L, 1L, 4L, 2, 1.0, 1.0, 0.0, "N", "1995-02-01")))
    Seq((10L, 1L, "O", 1.0, ts("1995-02-01"), "1-URGENT"),
      (11L, 1L, "O", 1.0, ts("1995-02-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = GraphQueries.q267_degree_profile(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // degrees: v4=1, v1=v2=2, v3=3 -> ccdf 4/4, 3/4, 1/4
    assert(got.toSeq === Seq(
      (1L, 1L, 1000000L), (2L, 2L, 750000L), (3L, 1L, 250000L)),
      got.mkString(";"))
  }

  // ---------- q268 ----------

  test("q268: vocabulary counts each token at its FIRST decile only") {
    val dir = tmp("q268")
    import spark.implicits._
    // 10 docs; doc d introduces token td; 'common' appears everywhere
    val docs = (1 to 10).map(d => (d.toLong, s"t$d common"))
    docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusProfileQueries.q268_heaps_curve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = (1 to 10).map(d => (d.toLong, d.toLong, 2L * d, d + 1L))
    assert(got.toSeq === want, got.mkString(";"))
  }

  // ---------- q269 ----------

  test("q269: MAD fence flags the spike; a zero-MAD group flags every deviation") {
    val dir = tmp("q269")
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val rows =
      // 'flat': 4x 10.00 and one 100.00 -> median 1000c, MAD 0 -> spike flagged
      Seq(10.0, 10.0, 10.0, 10.0, 100.0).map(("flat", _)) ++
        // 'spread': cents 1000,1200,1400,1600,10000 -> median 1400, MAD 200
        Seq(10.0, 12.0, 14.0, 16.0, 100.0).map(("spread", _))
    rows.zipWithIndex.map { case ((et, v), i) =>
      (i.toLong, t, 1L, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = DistributionQueries.q269_mad_outliers(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      ("flat", 1000L, 0L, 1L),
      ("spread", 1400L, 200L, 1L)), got.mkString(";"))
  }

  // ---------- q270 ----------

  test("q270: rate matrix equals a BigInt driver replica over q25's pairs") {
    val dir = sf("sf0.001")
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sizes = src.values.groupBy(identity).map { case (s, v) => s -> v.size }
    val pairs = TextQueries.q25_minhash_lsh_pairs(spark, dir).collect()
      .map(r => (src(r.getLong(0)), src(r.getLong(1)), r.getDouble(2)))
      .map { case (a, b, j) => (Seq(a, b).min, Seq(a, b).max, j) }
    val want = pairs.groupBy(p => (p._1, p._2)).map { case ((lo, hi), ps) =>
      val opp =
        if (lo == hi) BigInt(sizes(lo)) * (sizes(lo) - 1) / 2
        else BigInt(sizes(lo)) * sizes(hi)
      val rate = (BigInt(ps.length) * 1000000 / opp).toLong
      (lo, hi, ps.length.toLong, rate, ps.map(_._3).min, ps.map(_._3).max)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = TextQueries.q270_neardup_source_matrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got === want, s"got=${got.take(3)} want=${want.take(3)}")
    assert(got.nonEmpty)
  }

  // ---------- q271 ----------

  test("q271: both sinks land on disk and route exactly by the declared rules") {
    val dir = tmp("q271")
    import spark.implicits._
    Seq(
      (1L, "x" * 200, "en", "web", 200L),  // passes all rules
      (2L, "y" * 200, "xx", "web", 200L),  // lang off-whitelist -> ko
      (3L, "z" * 200, "de", "web", 50L))   // too short -> ko
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineQueries.q271_multi_sink(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq === Seq(
      (1L, "en", "ok"), (2L, "xx", "ko"), (3L, "de", "ko")), got.mkString(";"))
  }

  // ---------- q272 ----------

  test("q272: paths truncate at 5, sessions split on the 30-minute gap, counts merge") {
    val dir = tmp("q272")
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-10 ${10 + m / 60}%02d:${m % 60}%02d:00")
    val rows = Seq(
      // user 1, session 1: six events -> path = first five types
      (1L, t(0), 1L, "view"), (2L, t(5), 1L, "click"), (3L, t(10), 1L, "purchase"),
      (4L, t(15), 1L, "view"), (5L, t(20), 1L, "click"), (6L, t(25), 1L, "view"),
      // user 1, session 2 after a 40-minute gap
      (7L, t(65), 1L, "view"),
      // users 2 and 3: the same two-event path
      (8L, t(0), 2L, "view"), (9L, t(5), 2L, "click"),
      (10L, t(0), 3L, "view"), (11L, t(5), 3L, "click"))
    rows.map { case (i, ts, u, et) => (i, ts, u, et, 50.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.q272_session_paths(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(
      ("view>click", 2L),
      ("view", 1L),
      ("view>click>purchase>view>click", 1L)), got.mkString(";"))
  }

  // ---------- q273 ----------

  test("q273: vocabulary jaccard is exact; zero-overlap pairs stay absent") {
    val dir = tmp("q273")
    import spark.implicits._
    Seq(
      (1L, "a b c", "srcA"), (2L, "b c d", "srcB"), (3L, "x", "srcC"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusProfileQueries.q273_vocab_overlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // A{a,b,c} vs B{b,c,d}: common 2, union 4 -> 500000 ppm; C never appears
    assert(got.toSeq === Seq(("srcA", "srcB", 3L, 3L, 2L, 500000L)),
      got.mkString(";"))
  }

  // ---------- q274 ----------

  test("q274: only in-band, in-year, under-quantity lines earn; revenue is exact e4") {
    val dir = tmp("q274")
    writeLineitem(dir, Seq(
      // counted: 100.00 * 0.05 = 5.00 -> 50000 e4
      (1L, 1L, 1L, 1, 10.0, 100.0, 0.05, "N", "1996-03-01"),
      // counted: 200.00 * 0.07 = 14.00 -> 140000 e4
      (2L, 1L, 1L, 1, 23.0, 200.0, 0.07, "N", "1996-11-30"),
      // discount out of band
      (3L, 1L, 1L, 1, 10.0, 100.0, 0.04, "N", "1996-03-01"),
      // quantity at the cap (24 is NOT < 24)
      (4L, 1L, 1L, 1, 24.0, 100.0, 0.06, "N", "1996-03-01"),
      // shipped outside the year
      (5L, 1L, 1L, 1, 10.0, 100.0, 0.06, "N", "1997-03-01")))
    val got = RelationalQueries.q274_discount_revenue(spark, dir).collect()
    assert(got.length === 1)
    assert(got.head.getLong(0) === 2L)
    assert(got.head.getLong(1) === 190000L)
    assert(got.head.getDouble(2) === 19.0)
  }

  // ---------- q275 ----------

  test("q275: only BUILDING backlog lines count; pre-cut shipments drop out") {
    val dir = tmp("q275")
    import spark.implicits._
    Seq((1L, "c1", 0, 0.0, "BUILDING"), (2L, "c2", 0, 0.0, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, "O", 1.0, ts("1996-05-01"), "1-URGENT"),
      (20L, 2L, "O", 1.0, ts("1996-05-01"), "1-URGENT"),
      (30L, 1L, "O", 1.0, ts("1996-08-01"), "1-URGENT")) // placed after cut
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    writeLineitem(dir, Seq(
      // order 10: one line after the cut (counts: 100 * 0.9 = 90.00), one before
      (10L, 1L, 1L, 1, 1.0, 100.0, 0.1, "N", "1996-08-01"),
      (10L, 1L, 1L, 2, 1.0, 50.0, 0.0, "N", "1996-06-01"),
      // order 20: wrong segment
      (20L, 1L, 1L, 1, 1.0, 100.0, 0.0, "N", "1996-08-01"),
      // order 30: placed after the cut
      (30L, 1L, 1L, 1, 1.0, 100.0, 0.0, "N", "1996-09-01")))
    val got = RelationalQueries.q275_ship_priority(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((10L, "1996-05-01", 900000L, 1L)), got.mkString(";"))
  }
}
