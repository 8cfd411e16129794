package graft.queries

import graft.SparkSpec
import graft.meta.{Metadata, MetadataError}
import org.apache.spark.sql.{DataFrame, Row}

/** The declared-curation contract: q276's JSON-configured funnel must
  * reproduce q86's hand-composed one exactly (same constants → same
  * numbers), the config must be LOAD-BEARING (changing a rule changes
  * the funnel), and the parser must fail fast on every malformed
  * declaration — config errors surface at load time, never as a wrong
  * plan on the cluster.
  */
class CurationFlowSpec extends SparkSpec {

  test("q276 declared funnel == q86 hand-composed funnel, column for column") {
    val dir = sf()
    val declared = CurationFlow.q276_declared_curation(spark, dir)
    val hand = CurationQueries.q86_curation_e2e(spark, dir)
    assert(declared.columns.toSeq === hand.columns.toSeq)
    val d = declared.collect().map(_.toSeq)
    val h = hand.collect().map(_.toSeq)
    assert(d.length === h.length && d.nonEmpty)
    d.zip(h).foreach { case (a, b) => assert(a === b) }
  }

  test("the config is load-bearing: a stricter rule shrinks the quality stage") {
    val strict = CurationFlow.declaredCurationJson
      .replace("\"op\": \"lt\", \"value\": 10", "\"op\": \"lt\", \"value\": 40")
    val cur = Metadata.parseCuration(strict)
    val got = CurationFlow.run(spark, sf(), cur)
      .selectExpr("sum(n_quality)", "sum(n_raw)").collect().head
    val base = CurationFlow.q276_declared_curation(spark, sf())
      .selectExpr("sum(n_quality)").collect().head.getLong(0)
    assert(got.getLong(0) < base,
      s"min-tokens 40 should drop more docs than 10 (${got.getLong(0)} vs $base)")
  }

  test("a stage subset reorders freely: quality-only config still reports") {
    val json =
      """{"curation": {"table": "documents", "id_column": "doc_id",
        |  "text_column": "text", "report_by": "source", "stages": [
        |  {"type": "quality_filter", "name": "quality", "rules": [
        |    {"reason": "low_quality", "metric": "quality", "op": "lt", "value": 0.4}]}
        |]}}""".stripMargin
    val out = CurationFlow.run(spark, sf(), Metadata.parseCuration(json))
    assert(out.columns.toSeq === Seq("source", "n_raw", "n_quality", "tokens_final"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    // the generated oracle for a subset config parses down to plain WITH
    val sql = CurationFlow.oracleSql(Metadata.parseCuration(json))
    assert(!sql.startsWith("WITH RECURSIVE"))
  }

  test("declared mixture_sample == q36 hand-composed mixture, source for source") {
    val json =
      """{"curation": {"table": "documents", "id_column": "doc_id",
        |  "text_column": "text", "report_by": "source", "stages": [
        |  {"type": "mixture_sample", "name": "mix", "salt": "mix-1",
        |   "by": "source", "weights": [
        |    {"group": "src0", "keep16": 8}, {"group": "src1", "keep16": 4},
        |    {"group": "src2", "keep16": 2}, {"group": "src3", "keep16": 1}]}
        |]}}""".stripMargin
    val declared = CurationFlow.run(spark, sf(), Metadata.parseCuration(json))
      .select("source", "n_mix").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hand = CorpusQueries.q36_mixture_sample(spark, sf())
      .select("source", "n_kept").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // q36 reports only sources that keep >0 docs; the declared funnel
    // reports every source — the kept counts must agree where both speak
    hand.foreach { case (src, n) =>
      assert(declared.get(src).contains(n), s"$src: ${declared.get(src)} vs $n")
    }
    declared.filterNot { case (s, _) => hand.contains(s) }
      .foreach { case (_, n) => assert(n == 0L) }
  }

  test("declared leakage-free split == q223's train membership in total") {
    val json =
      """{"curation": {"table": "documents", "id_column": "doc_id",
        |  "text_column": "text", "report_by": "source", "stages": [
        |  {"type": "split", "name": "train_only", "salt": "split-1",
        |   "buckets": [
        |    {"name": "1_train", "upper": 204}, {"name": "2_val", "upper": 230},
        |    {"name": "3_test", "upper": 256}],
        |   "keep": "1_train", "leakage_free": true}
        |]}}""".stripMargin
    val kept = CurationFlow.run(spark, sf(), Metadata.parseCuration(json))
      .selectExpr("sum(n_train_only)").collect().head.getLong(0)
    val q223Train = CurationQueries.q223_leakage_free_split(spark, sf())
      .filter(org.apache.spark.sql.functions.col("split") === "1_train")
      .select("n_docs").collect().head.getLong(0)
    assert(kept == q223Train, s"declared split kept $kept, q223 train $q223Train")
  }

  test("repeated stage types render per-stage oracle names, no collapsing") {
    val cur = Metadata.parseCuration(CurationFlow.multiStageCurationJson)
    val sql = CurationFlow.oracleSql(cur)
    // each stage owns its name-keyed CTE/column
    Seq("q_length_gate", "q_lang_gate", "ex_exact", "ct_bench_a", "ct_bench_b")
      .foreach(n => assert(sql.contains(n), s"oracle lost stage artifact $n"))
    // the two decontamination stages keep their OWN lists
    assert(sql.contains("'the fast key'") && sql.contains("'window big merge'"))
    // no duplicate LEFT JOIN alias anywhere
    val joins = sql.linesIterator.filter(_.contains("LEFT JOIN")).toSeq
    assert(joins.distinct.size == joins.size, s"duplicate joins in:\n$sql")
    // and the run() side agrees with itself: both quality gates bind
    val out = CurationFlow.q288_declared_curation_multi(spark, sf()).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val Seq(raw, s1, s2, s3, s4, s5) = (1 to 6).map(r.getLong)
      assert(s1 <= raw && s2 <= s1 && s3 <= s2 && s4 <= s3 && s5 <= s4)
    }
  }

  test("declared token_budget first == q63 hand-composed budget, source for source") {
    val json =
      """{"curation": {"table": "documents", "id_column": "doc_id",
        |  "text_column": "text", "report_by": "source", "stages": [
        |  {"type": "token_budget", "name": "cap", "salt": "budget",
        |   "by": "source", "budget": 2000}
        |]}}""".stripMargin
    val declared = CurationFlow.run(spark, sf(), Metadata.parseCuration(json))
      .select("source", "n_cap").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hand = CurationQueries.q63_token_budget(spark, sf())
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(declared === hand, s"$declared vs $hand")
  }

  test("token_budget is survivor-aware: budget AFTER a filter keeps a superset") {
    // [budget, quality]: junk spends budget it never earns;
    // [quality, budget]: the cap buys only what survived — every doc
    // the naive order keeps, the honest order must keep too
    def cfg(stages: String) =
      s"""{"curation": {"table": "documents", "id_column": "doc_id",
         |  "text_column": "text", "report_by": "source",
         |  "stages": [$stages]}}""".stripMargin
    val budget =
      """{"type": "token_budget", "name": "cap", "salt": "budget",
        | "by": "source", "budget": 2000}""".stripMargin
    val quality =
      """{"type": "quality_filter", "name": "q", "rules": [
        |  {"reason": "short", "metric": "n_toks", "op": "lt", "value": 40}]}""".stripMargin
    def finals(json: String): (Long, Long) = {
      val r = CurationFlow.run(spark, sf(), Metadata.parseCuration(json))
        .selectExpr("sum(n_cap)", "sum(tokens_final)").collect().head
      (r.getLong(0), r.getLong(1))
    }
    val naiveQ = CurationFlow.run(spark, sf(),
      Metadata.parseCuration(cfg(s"$budget, $quality")))
      .selectExpr("sum(n_q)", "sum(tokens_final)").collect().head
    val (honestDocs, honestToks) = finals(cfg(s"$quality, $budget"))
    assert(honestDocs >= naiveQ.getLong(0) && honestToks >= naiveQ.getLong(1),
      s"honest ($honestDocs docs/$honestToks toks) < naive " +
        s"(${naiveQ.getLong(0)}/${naiveQ.getLong(1)})")
    assert(honestToks > 0)
  }

  test("q291 oracle renders the guarded budget window") {
    val sql = CurationFlow.q291_oracle
    assert(sql.contains("bd_budget AS ("))
    assert(sql.contains("CASE WHEN (m_exact AND q_quality) THEN n_toks ELSE 0 END"))
    assert(sql.contains("cum_budget - n_toks < 2000"))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** One stream ≡ batch pin: the streamed report of a config against
    * the batch interpreter's report of the same config. `rowForRow`
    * additionally compares the two ordered collects position by
    * position; `check` adds case-specific assertions on the streamed
    * rows. */
  private case class StreamCase(
      name: String, streamed: String => DataFrame, batch: String => DataFrame,
      diverged: String, rowForRow: Boolean = false,
      check: Array[Row] => Unit = _ => ())

  private val streamCases = Seq(
    StreamCase("q292 stream == batch run of the same config, row for row",
      CurationFlow.q292_declared_curation_stream(spark, _),
      CurationFlow.run(spark, _, Metadata.parseCuration(CurationFlow.streamCurationJson)),
      "stream and batch disagree on the per-row funnel", rowForRow = true),
    StreamCase(
      "q298 stream (index-backed near-dedup) == batch run of the same config, row for row",
      CurationFlow.q298_declared_stream_neardup(spark, _),
      CurationFlow.run(spark, _,
        Metadata.parseCuration(CurationFlow.streamNearDupCurationJson)),
      "stream and batch disagree on the index-backed funnel", rowForRow = true,
      check = { report =>
        // the near-dup stage genuinely dropped rows in flight (the
        // config isn't vacuous on this corpus)
        val raw = report.map(r => r.getLong(r.fieldIndex("n_raw"))).sum
        val kept = report.map(r => r.getLong(r.fieldIndex("n_neardup"))).sum
        assert(kept < raw, "dedup_near dropped nothing — fixture corpus has near-dups")
      }),
    StreamCase("q314: streamed attrition equals the batch attrition of the same config row for row",
      CurationFlow.q314_declared_stream_attrition(spark, _),
      CurationFlow.runAttrition(spark, _,
        Metadata.parseCuration(CurationFlow.streamNearDupCurationJson)),
      "in-flight lineage diverged from the batch interpreter"),
    StreamCase("q326: the streamed semantic funnel equals the batch interpreter of the same config row for row",
      CurationFlow.q326_declared_stream_semantic(spark, _),
      CurationFlow.run(spark, _,
        Metadata.parseCuration(CurationFlow.streamSemanticCurationJson)),
      "in-flight semantic membership diverged from the batch interpreter"),
    StreamCase("q328: the streamed mask funnel equals the batch interpreter of the same config",
      CurationFlow.q328_declared_stream_mask(spark, _),
      CurationFlow.run(spark, _, Metadata.parseCuration(CurationFlow.streamMaskCurationJson)),
      "stream and batch disagree on the masked funnel"))

  streamCases.foreach { c =>
    test(c.name) {
      val dir = sf()
      val streamed = c.streamed(dir)
      val batch = c.batch(dir)
      assert(streamed.columns.toSeq === batch.columns.toSeq)
      assert(sameRows(streamed, batch), c.diverged)
      val s = streamed.collect()
      assert(s.nonEmpty)
      if (c.rowForRow) {
        val b = batch.collect()
        assert(s.length === b.length)
        s.map(_.toSeq).zip(b.map(_.toSeq)).foreach { case (x, e) => assert(x === e) }
      }
      c.check(s)
    }
  }

  test("decontaminate keeps a NULL-text document in stream and batch alike") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, lit, sum}
    val work = graft.io.Scratch.dir(spark, "graft-nulltext-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val docs = graft.Tables.load(spark, sf(), "documents").orderBy("doc_id").limit(40)
      docs.unionByName(docs.limit(1)
          .withColumn("doc_id", lit(-1L))
          .withColumn("text", lit(null).cast("string")))
        .write.parquet(s"$work/documents.parquet")
      val cur = Metadata.parseCuration(
        """{"curation": {"table": "documents", "id_column": "doc_id",
          |  "text_column": "text", "report_by": "source", "stages": [
          |  {"type": "decontaminate", "name": "bench", "shingles": [
          |    "the fast key", "spark group query", "join a filter"]}
          |]}}""".stripMargin)
      val batch = CurationFlow.run(spark, work, cur)
      val streamed = CurationFlow.driveStream(spark, work, cur, index = None)
      assert(sameRows(streamed, batch),
        "stream and batch disagree on a NULL-text document")
      // the NULL-text document is in the corpus both reports count
      assert(batch.agg(sum(col("n_raw"))).head().getLong(0) === 41L)
    } finally fs.delete(new Path(work), true)
  }

  /** One single-stage config per grammar case. `Streams(index)`: the
    * stage runs over a stream (against the stored artifacts when
    * `index`, which it then also needs) and must equal the batch
    * run; `BatchOnly`: the stream entry refuses it. */
  private sealed trait Streamability
  private final case class Streams(index: Boolean) extends Streamability
  private case object BatchOnly extends Streamability

  private def oneStage(stage: String): String =
    s"""{"curation": {"table": "documents", "id_column": "doc_id",
       |  "text_column": "text", "report_by": "source",
       |  "stages": [${stage.stripMargin}]}}""".stripMargin

  private val grammarCases: Seq[(String, String, Streamability)] = Seq(
    ("dedup_exact", """{"type": "dedup_exact", "name": "g"}""", BatchOnly),
    ("dedup_near", """{"type": "dedup_near", "name": "g"}""", Streams(index = true)),
    ("quality_filter", """{"type": "quality_filter", "name": "g", "rules": [
        |  {"reason": "too_short", "metric": "n_toks", "op": "lt", "value": 10},
        |  {"reason": "low_quality", "metric": "quality", "op": "lt", "value": 0.4}]}""",
      Streams(index = false)),
    ("decontaminate", """{"type": "decontaminate", "name": "g", "shingles": [
        |  "the fast key", "spark group query", "join a filter"]}""", Streams(index = false)),
    ("mixture_sample", """{"type": "mixture_sample", "name": "g", "salt": "g1",
        |  "by": "source", "weights": [{"group": "src0", "keep16": 8},
        |  {"group": "src1", "keep16": 4}, {"group": "src2", "keep16": 2}]}""",
      Streams(index = false)),
    ("split", """{"type": "split", "name": "g", "salt": "g1", "keep": "1_train",
        |  "buckets": [{"name": "1_train", "upper": 204}, {"name": "2_test", "upper": 256}]}""",
      Streams(index = false)),
    ("split (leakage_free)", """{"type": "split", "name": "g", "salt": "g1",
        |  "keep": "1_train", "leakage_free": true,
        |  "buckets": [{"name": "1_train", "upper": 204}, {"name": "2_test", "upper": 256}]}""",
      Streams(index = true)),
    ("token_budget", """{"type": "token_budget", "name": "g", "salt": "g1",
        |  "by": "source", "budget": 500}""", BatchOnly),
    ("dedup_semantic", """{"type": "dedup_semantic", "name": "g", "missing": "drop"}""",
      Streams(index = true)),
    ("mask", """{"type": "mask", "name": "g", "rules": [
        |  {"pattern": "customer", "replacement": "<CUST>"}]}""", Streams(index = false)),
    ("span_scrub", """{"type": "span_scrub", "name": "g", "span_len": 8}""", BatchOnly),
    ("containment", """{"type": "containment", "name": "g", "min_pct": 80}""", BatchOnly))

  test("grammar coverage: every CurationStageDef subclass has a one-stage case") {
    import scala.reflect.runtime.universe._
    val known = typeOf[graft.meta.CurationStageDef].typeSymbol.asClass
      .knownDirectSubclasses.map(_.fullName)
    val covered = grammarCases.flatMap { case (_, stage, _) =>
      Metadata.parseCuration(oneStage(stage)).stages.map(_.getClass.getName)
    }.toSet
    assert(known.nonEmpty)
    assert(covered === known, s"stage types without a grammar case: ${known -- covered}")
  }

  grammarCases.foreach { case (label, stage, mode) =>
    test(s"grammar coverage: $label over a stream at sf0.001") {
      val dir = sf()
      val cur = Metadata.parseCuration(oneStage(stage))
      def refused(index: Option[String]): String = intercept[MetadataError](
        CurationFlow.runStream(cur, graft.Tables.load(spark, dir, "documents"), index))
        .getMessage
      mode match {
        case BatchOnly =>
          val msg = refused(Some(dir))
          assert(msg.contains("not streamable") && msg.contains(s"($label)"), msg)
        case Streams(needsIndex) =>
          if (needsIndex) {
            val msg = refused(None)
            assert(msg.contains("not streamable") && msg.contains("index"), msg)
          }
          val index = if (needsIndex) Some(dir) else None
          val streamed = CurationFlow.driveStream(spark, dir, cur, index)
          val batch = CurationFlow.run(spark, dir, cur)
          assert(streamed.columns.toSeq === batch.columns.toSeq)
          assert(sameRows(streamed, batch), s"$label: stream and batch disagree")
          assert(streamed.count() > 0)
      }
    }
  }

  test("runStream without an index still fails fast on dedup_near; with one it submits") {
    val cur = Metadata.parseCuration(CurationFlow.streamNearDupCurationJson)
    val docs = graft.Tables.load(spark, sf(), "documents")
    val e = intercept[MetadataError](CurationFlow.runStream(cur, docs))
    assert(e.getMessage.contains("not streamable") &&
      e.getMessage.contains("neardup") && e.getMessage.contains("index"))
  }

  test("runStream fails fast on corpus-membership stages") {
    val cur = Metadata.parseCuration(CurationFlow.declaredCurationJson)
    val docs = graft.Tables.load(spark, sf(), "documents")
    val e = intercept[MetadataError](CurationFlow.runStream(cur, docs))
    assert(e.getMessage.contains("not streamable") &&
      e.getMessage.contains("dedup_exact"))
  }

  test("parser fails fast on malformed sampling declarations") {
    def bad(json: String, hint: String): Unit = {
      val e = intercept[MetadataError](Metadata.parseCuration(json))
      assert(e.getMessage.toLowerCase.contains(hint),
        s"message '${e.getMessage}' does not mention '$hint'")
    }
    def stage(body: String): String =
      s"""{"curation": {"table": "documents", "id_column": "doc_id",
         |  "text_column": "text", "report_by": "source",
         |  "stages": [$body]}}""".stripMargin
    bad(stage("""{"type": "mixture_sample", "name": "m", "salt": "x",
                | "by": "source", "weights": [{"group": "a", "keep16": 17}]}""".stripMargin),
      "[0, 16]")
    bad(stage("""{"type": "mixture_sample", "name": "m", "salt": "x",
                | "by": "source", "weights": []}""".stripMargin), "no weights")
    bad(stage("""{"type": "mixture_sample", "name": "m", "salt": "a|b",
                | "by": "source", "weights": [{"group": "a", "keep16": 8}]}""".stripMargin),
      "salt")
    bad(stage("""{"type": "split", "name": "s", "salt": "x", "keep": "t",
                | "buckets": [{"name": "t", "upper": 200}]}""".stripMargin), "256")
    bad(stage("""{"type": "split", "name": "s", "salt": "x", "keep": "zz",
                | "buckets": [{"name": "t", "upper": 256}]}""".stripMargin), "unknown bucket")
    bad(stage("""{"type": "split", "name": "s", "salt": "x", "keep": "t",
                | "buckets": [{"name": "t", "upper": 200},
                |             {"name": "u", "upper": 100}]}""".stripMargin),
      "strictly increasing")
    bad(stage("""{"type": "token_budget", "name": "b", "salt": "x",
                | "by": "source", "budget": 0}""".stripMargin), "positive")
    bad(stage("""{"type": "token_budget", "name": "b", "salt": "x",
                | "budget": 100}""".stripMargin), "missing 'by'")
    // leakage-free split needs the signature family's columns
    bad("""{"curation": {"table": "documents", "id_column": "other_id",
          | "text_column": "text", "report_by": "source", "stages": [
          | {"type": "split", "name": "s", "salt": "x", "keep": "t",
          |  "leakage_free": true,
          |  "buckets": [{"name": "t", "upper": 256}]}]}}""".stripMargin, "signature")
  }

  test("parser fails fast on malformed declarations") {
    def bad(json: String, hint: String): Unit = {
      val e = intercept[MetadataError](Metadata.parseCuration(json))
      assert(e.getMessage.toLowerCase.contains(hint),
        s"message '${e.getMessage}' does not mention '$hint'")
    }
    bad("""{"curation": {"table": "documents", "id_column": "doc_id",
          | "text_column": "text", "report_by": "source", "stages": [
          | {"type": "resample", "name": "x"}]}}""".stripMargin, "unsupported curation stage")
    bad("""{"curation": {"table": "documents", "id_column": "doc_id",
          | "text_column": "text", "report_by": "source", "stages": [
          | {"type": "quality_filter", "name": "q", "rules": [
          |   {"reason": "r", "metric": "lang_det", "op": "lt", "value": 3}]}]}}""".stripMargin,
      "not supported")
    bad("""{"curation": {"table": "documents", "id_column": "doc_id",
          | "text_column": "text", "report_by": "source", "stages": [
          | {"type": "dedup_exact", "name": "a"},
          | {"type": "dedup_exact", "name": "a"}]}}""".stripMargin, "duplicate")
    bad("""{"curation": {"table": "documents", "id_column": "doc_id",
          | "text_column": "text", "report_by": "source", "stages": [
          | {"type": "decontaminate", "name": "d", "shingles": []}]}}""".stripMargin, "empty")
    bad("""{"curation": {"table": "events", "id_column": "event_id",
          | "text_column": "event_type", "report_by": "event_type", "stages": [
          | {"type": "dedup_near", "name": "n"}]}}""".stripMargin, "signature")
    bad("""{"curation": {"table": "documents", "id_column": "doc_id",
          | "text_column": "text", "report_by": "source", "stages": []}}""".stripMargin,
      "no stages")
  }
}
