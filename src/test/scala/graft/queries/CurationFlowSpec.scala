package graft.queries

import graft.SparkSpec
import graft.meta.{Metadata, MetadataError}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, sum}

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

  // ---------- declared sinks + consolidation (q297, q299, q300) ----------

  // The declared sink/consolidation path must produce the bytes its
  // config promises: hive partition dirs, the bin-pack file bound,
  // keep-LATEST across appends, and a read-back equal to the batch
  // interpreter's survivors.

  test("q297: written layout is partitioned + appended, consolidation keeps latest, read-back equals the batch funnel") {
    import org.apache.hadoop.fs.Path
    import graft.meta.Metadata
    val dir = sf("sf0.001")
    val cur = Metadata.parseCuration(CurationFlow.sinkCurationJson)
    val stamps = Seq("2026-08-01", "2026-08-02")
    val work = graft.io.Scratch.dir(spark, "graft-q297spec-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val report = CurationFlow.runSinksAt(spark, dir, cur, stamps, work)
      // 1. the sink really is hive-partitioned by the declared column
      val partDirs = fs.globStatus(new Path(s"$work/curated/source=*"))
        .filter(_.isDirectory).map(_.getPath.getName)
      assert(partDirs.nonEmpty, "no source=* partition directories written")
      // 2. appends accumulated: the raw sink holds BOTH batch stamps
      val raw = spark.read.parquet(s"$work/curated")
      assert(raw.select("batch_date").distinct().count() === 2L,
        "saveMode=append must accumulate both batch stamps")
      // 3. consolidation kept exactly the LATEST batch, one row per doc
      val cons = spark.read.parquet(s"$work/consolidated")
      assert(cons.count() === raw.count() / 2)
      assert(cons.filter(col("batch_date") =!= stamps.last).count() === 0L,
        "keep-latest must retain only the newest stamp")
      assert(cons.groupBy(cur.idColumn).count().filter(col("count") > 1).count() === 0L)
      // 4. read-back report equals the batch interpreter's survivors:
      //    the same config through run() — final-stage count and token
      //    sum per group (n_<laststage> and tokens_final)
      val lastStage = s"n_${cur.stages.last.name}"
      val batch = CurationFlow.run(spark, dir, cur)
        .select(col(cur.reportBy), col(lastStage).as("n_docs"), col("tokens_final").as("tokens"))
        .filter(col("n_docs") > 0)
      val got = report.select(col(cur.reportBy), col("n_docs"), col("tokens"))
      assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
        "sink read-back diverged from the batch interpreter's survivors")
      // 5. the report's consolidation invariants
      assert(report.filter(col("n_batches") =!= 1L).count() === 0L)
      assert(report.filter(col("newest_batch") =!= stamps.last).count() === 0L)
      // 6. the bin-pack bound: files per partition dir <= that
      //    partition's ceil(bytes/target) bins PER APPEND is hard to
      //    recompute post-hoc; what the layout must never show is the
      //    blowup it exists to prevent — more files in a directory
      //    than (appends x upstream shuffle width)
      val maxFiles = partDirs.map { d =>
        fs.globStatus(new Path(s"$work/curated/source=${d.stripPrefix("source=")}/*.parquet")).length
      }.max
      val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(maxFiles <= 2 * width,
        s"$maxFiles files in one partition dir — compaction not applied?")
    } finally fs.delete(new Path(work), true)
  }

  test("q299: overwrite snapshot keeps only the newest stamp while the append history keeps all three") {
    import org.apache.hadoop.fs.Path
    import graft.meta.Metadata
    val dir = sf("sf0.001")
    val cur = Metadata.parseCuration(CurationFlow.multiSinkCurationJson)
    val stamps = Seq("2026-08-01", "2026-08-08", "2026-08-15")
    val work = graft.io.Scratch.dir(spark, "graft-q299spec-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val report = CurationFlow.runSinksAt(spark, dir, cur, stamps, work)
      // saveMode semantics per sink: the flat snapshot was overwritten
      // by every batch (newest stamp only, survivor-count rows); the
      // partitioned history accumulated all three appends
      val latest = spark.read.parquet(s"$work/latest")
      assert(latest.select("batch_date").distinct().collect()
        .map(_.getString(0)).toSeq === Seq(stamps.last))
      val history = spark.read.parquet(s"$work/history")
      assert(history.select("batch_date").distinct().count() === 3L)
      assert(history.count() === latest.count() * 3)
      // consolidation read the HISTORY sink and collapsed it to the
      // newest stamp — equal to the snapshot, row for row
      val cons = spark.read.parquet(s"$work/consolidated")
        .select(latest.columns.map(col): _*)
      assert(cons.exceptAll(latest).isEmpty && latest.exceptAll(cons).isEmpty,
        "consolidated history must equal the overwrite snapshot")
      // partitioned-by-lang layout on the history sink
      assert(fs.globStatus(new Path(s"$work/history/lang=*")).nonEmpty)
      assert(report.count() > 0)
    } finally fs.delete(new Path(work), true)
  }

  test("q300: streamed survivors land partitioned, once each, equal to the batch funnel's keep set") {
    import org.apache.hadoop.fs.Path
    import graft.meta.{Metadata, MetadataError}
    val dir = sf("sf0.001")
    val cur = Metadata.parseCuration(CurationFlow.streamSinkCurationJson)
    val work = graft.io.Scratch.dir(spark, "graft-q300spec-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val report = CurationFlow.runStreamSinksAt(spark, dir, cur, None, work)
      val landed = spark.read.parquet(s"$work/curated_stream")
      // exactly once: every landed doc_id unique (each row arrives in
      // one micro-batch and appends once)
      assert(landed.groupBy(cur.idColumn).count().filter(col("count") > 1).count() === 0L)
      // the landed set IS the batch interpreter's survivor set
      val batch = CurationFlow.run(spark, dir, cur)
        .select(col(cur.reportBy),
          col(s"n_${cur.stages.last.name}").as("n_docs"),
          col("tokens_final").as("tokens"))
        .filter(col("n_docs") > 0)
      val got = report.select(col(cur.reportBy), col("n_docs"), col("tokens"))
      assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
        "stream-landed read-back diverged from the batch survivors")
      // declared hive layout on the landed bytes
      assert(fs.globStatus(new Path(s"$work/curated_stream/lang=*")).nonEmpty)
    } finally fs.delete(new Path(work), true)
    // contract failures: overwrite sinks and consolidation are refused
    // BEFORE any stream starts
    val ow = Metadata.parseCuration(CurationFlow.streamSinkCurationJson
      .replace("\"saveMode\": \"append\"", "\"saveMode\": \"overwrite\""))
    val e1 = intercept[MetadataError](CurationFlow.runStreamSinks(spark, dir, ow))
    assert(e1.getMessage.contains("must append"))
    val cons = Metadata.parseCuration(CurationFlow.streamSinkCurationJson.replace(
      "    \"sinks\": [",
      """    "consolidation": {"enabled": true, "ok_records": {
        |      "input_pattern": "{out}/curated_stream", "output_path": "{out}/c",
        |      "deduplication": {"enabled": true, "key_column": "doc_id",
        |        "order_by": "batch_date", "order_direction": "DESC"}}},
        |    "sinks": [""".stripMargin))
    val e2 = intercept[MetadataError](CurationFlow.runStreamSinks(spark, dir, cons))
    assert(e2.getMessage.contains("batch pass over the sink"))
  }

  test("q297 grammar: consolidation without sinks, and a foreign dedup key, fail at parse time") {
    import graft.meta.{Metadata, MetadataError}
    val noSinks = CurationFlow.sinkCurationJson.replace(
      """"sinks": [
        |      {"input": "survivors", "name": "curated", "path": "{out}/curated",
        |       "format": "parquet", "saveMode": "append",
        |       "partitionBy": ["source"], "targetFileMB": 4}
        |    ],""".stripMargin, "")
    val e1 = intercept[MetadataError](Metadata.parseCuration(noSinks))
    assert(e1.getMessage.contains("no sinks"))
    val wrongKey = CurationFlow.sinkCurationJson
      .replace("\"key_column\": \"doc_id\"", "\"key_column\": \"source\"")
    val e2 = intercept[MetadataError](Metadata.parseCuration(wrongKey))
    assert(e2.getMessage.contains("row identity"))
  }

  // ---------- q307/q310/q313: attribution and the full grammar ----------

  test("q307 attribution reconciles with q288's funnel counts") {
    val dir = sf("sf0.001")
    val att = CurationFlow.q307_declared_attrition(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val funnelRows = CurationFlow.q288_declared_curation_multi(spark, dir).collect()
    val lastStage = "bench_b"
    funnelRows.foreach { r =>
      val src = r.getString(0)
      val nRaw = r.getLong(r.fieldIndex("n_raw"))
      val nLast = r.getLong(r.fieldIndex(s"n_$lastStage"))
      val attTotal = att.collect { case ((s, _), n) if s == src => n }.sum
      assert(attTotal === nRaw, s"$src: attribution mass $attTotal != n_raw $nRaw")
      assert(att.getOrElse((src, "survived"), 0L) === nLast,
        s"$src: survived attribution != final-stage survivor count")
    }
  }

  test("q310 attribution reconciles with the budget funnel under a binding budget") {
    val dir = sf("sf0.001")
    // q291's config with the budget tightened so the window member
    // actually FIRES at fixture scale (the committed 2000-token budget
    // binds only from sf0.1 up — the driver's oracle gates that)
    val cur = graft.meta.Metadata.parseCuration(
      CurationFlow.budgetCurationJson.replace("\"budget\": 2000", "\"budget\": 120"))
    val att = CurationFlow.runAttrition(spark, dir, cur)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(att.keys.exists(_._2 == "budget"),
      "no document attributed to the budget stage — the window member is untested")
    CurationFlow.run(spark, dir, cur).collect().foreach { r =>
      val src = r.getString(0)
      val attTotal = att.collect { case ((s, _), n) if s == src => n }.sum
      assert(attTotal === r.getLong(r.fieldIndex("n_raw")))
      assert(att.getOrElse((src, "survived"), 0L) ===
        r.getLong(r.fieldIndex("n_budget")))
    }
  }

  test("q313: the full-grammar config is a monotone funnel and honors its declared budget") {
    val dir = sf("sf0.01")
    val stages = Seq("exact", "neardup", "quality", "bench", "mix", "train", "budget")
    // the budget member admits every doc that STARTS under the cap
    // (cum - n_toks < budget), so tokens_final may legitimately
    // overshoot by up to the last admitted doc's length — assert the
    // operator's ACTUAL invariant, not a tighter one that only holds
    // when the budget doesn't bind mid-document on this fixture
    import org.apache.spark.sql.functions._
    val maxToks = graft.Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(max(size(graft.functions.TextFunctions.tokens(col("text"))))
        .cast("long").as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    CurationFlow.q313_declared_full_grammar(spark, dir).collect().foreach { r =>
      val counts = r.getLong(r.fieldIndex("n_raw")) +:
        stages.map(s => r.getLong(r.fieldIndex(s"n_$s")))
      assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
        s"${r.getString(0)}: stage survivor counts not monotone: $counts")
      val tf = r.getLong(r.fieldIndex("tokens_final"))
      assert(tf < 1500L + maxToks(r.getString(0)),
        s"${r.getString(0)}: tokens_final $tf exceeds budget 1500 by more " +
          s"than one document (max doc ${maxToks(r.getString(0))} tokens)")
    }
  }

  test("q323: the mixed-dedup funnel equals an independently hand-composed stage stack") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.01")
    val docs = graft.Tables.load(spark, dir, "documents")
    val base = docs.withColumn("n_toks",
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
    val exactKeep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("k1"))
    val nearDrop = graft.operators.ConnectedComponents.run(
      TextQueries.lshPairs(spark, dir).select("a_id", "b_id"), "a_id", "b_id")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"), lit(1).as("d2"))
    val semDrop = VectorQueries.q87_semdedup(spark, dir)
      .select(col("dup_id").as("doc_id"), lit(1).as("d3"))
    val staged = base
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .join(semDrop, Seq("doc_id"), "left")
      .withColumn("s1", col("k1").isNotNull)
      .withColumn("s2", col("s1") && col("d2").isNull)
      .withColumn("s3", col("s2") && col("d3").isNull)
      .withColumn("s4", col("s3") && !(col("n_toks") < 10))
    val expected = staged.groupBy("source").agg(
      count(lit(1)).as("n_raw"),
      count(when(col("s1"), 1)).as("n_exact"),
      count(when(col("s2"), 1)).as("n_neardup"),
      count(when(col("s3"), 1)).as("n_semdup"),
      count(when(col("s4"), 1)).as("n_quality"),
      sum(when(col("s4"), col("n_toks")).otherwise(0L)).as("tokens_final"))
    val got = CurationFlow.q323_declared_semantic(spark, dir)
    assert(sameRows(got, expected),
      "declared mixed-dedup funnel diverged from the hand-composed stack")
    val sums = got.agg(
      sum(col("n_neardup")).cast("long"), sum(col("n_semdup")).cast("long"))
      .head()
    assert(sums.getLong(1) < sums.getLong(0),
      "no document was dropped by dedup_semantic — the stage is inert")
  }

  test("dedup_semantic missing-policy: keep passes unembedded rows, drop removes exactly them; oracleSql refuses the render") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.1") // 5000 docs, 2000 embeddings: 3000 unembedded
    def cfg(missing: String) = graft.meta.Metadata.parseCuration(
      s"""{"curation": {"table": "documents", "id_column": "doc_id",
         |  "text_column": "text", "report_by": "source", "stages": [
         |  {"type": "dedup_semantic", "name": "sem", "missing": "$missing"}]}}"""
        .stripMargin)
    def survivors(missing: String): Long =
      CurationFlow.run(spark, dir, cfg(missing))
        .agg(sum(col("n_sem")).cast("long")).head().getLong(0)
    val docs = graft.Tables.load(spark, dir, "documents").select("doc_id")
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"))
    val unembedded = docs.join(emb, Seq("doc_id"), "left_anti").count()
    assert(unembedded > 0, "degenerate fixture: every document embedded")
    assert(survivors("keep") - survivors("drop") === unembedded,
      "keep-vs-drop delta is not exactly the unembedded document count")
    val ex = intercept[graft.meta.MetadataError](
      CurationFlow.oracleSql(cfg("keep")))
    assert(ex.getMessage.contains("dedup_semantic"),
      "oracleSql rendered a config it cannot express")
  }

  test("q327: the mask pre-pass genuinely rewrites what every downstream stage reads") {
    import graft.meta.{Metadata, MaskStageDef}
    val dir = sf("sf0.01")
    val cur = Metadata.parseCuration(CurationFlow.maskedCurationJson)
    val masked = CurationFlow.run(spark, dir, cur)
    // same funnel with the scrub removed: content hashes, quality
    // metrics, shingles and budget weights all shift — if the two
    // reports agree, the stage is decorative
    val unmasked = CurationFlow.run(spark, dir,
      cur.copy(stages = cur.stages.filterNot(_.isInstanceOf[MaskStageDef])))
    assert(masked.drop("n_scrub_entities", "n_scrub_pairs")
      .exceptAll(unmasked).count() > 0,
      "masking changed nothing downstream")
    // the second mask stage matches the FIRST stage's output
    // ("<CUST> line") — dropping it must change the report, proving
    // rewrites compose in declared order
    val firstOnly = CurationFlow.run(spark, dir,
      cur.copy(stages = cur.stages.filterNot {
        case m: MaskStageDef => m.name == "scrub_pairs"
        case _               => false
      }))
    assert(masked.drop("n_scrub_pairs")
      .exceptAll(firstOnly).count() > 0,
      "the composed second mask stage was a no-op")
  }

  test("q329: the span scrub pre-pass removes duplicated spans the downstream gates then read") {
    import graft.meta.{Metadata, SpanScrubStageDef}
    val dir = sf("sf0.01")
    val cur = Metadata.parseCuration(CurationFlow.scrubCurationJson)
    val scrubbed = CurationFlow.run(spark, dir, cur)
    val unscrubbed = CurationFlow.run(spark, dir,
      cur.copy(stages = cur.stages.filterNot(_.isInstanceOf[SpanScrubStageDef])))
    // tokens_final must SHRINK somewhere: the corpus carries
    // cross-document duplicated spans, and scrubbing them reduces the
    // surviving token mass (equality would mean the stage never fired)
    val tf = scrubbed.agg(sum(col("tokens_final"))).head().getLong(0)
    val tfRaw = unscrubbed.agg(sum(col("tokens_final"))).head().getLong(0)
    assert(tf < tfRaw,
      s"span scrub removed no tokens ($tf vs $tfRaw) — decorative stage")
  }

  test("q330: containment drops the contained side and keeps the min-id representative") {
    import graft.meta.{Metadata, ContainmentStageDef}
    val dir = sf("sf0.01")
    val cur = Metadata.parseCuration(CurationFlow.containmentCurationJson)
    val rep = CurationFlow.run(spark, dir, cur).collect()
    val repOff = CurationFlow.run(spark, dir,
      cur.copy(stages = cur.stages.filterNot(_.isInstanceOf[ContainmentStageDef])))
      .collect()
    def m(rows: Array[org.apache.spark.sql.Row], col: String): Map[String, Long] =
      rows.map(r => r.getString(0) -> r.getLong(r.fieldIndex(col))).toMap
    val withStage = m(rep, "n_contained")
    val exactOnly = m(rep, "n_exact")
    // the stage genuinely drops documents beyond exact dedup...
    assert(withStage.values.sum < exactOnly.values.sum,
      "containment dropped nothing beyond dedup_exact")
    // ...and removing it changes the downstream budget stage
    assert(m(rep, "n_budget") != m(repOff, "n_budget"),
      "the budget stage did not see containment's survivors")
  }

  test("mask grammar: misdeclared configs die at parse time") {
    import graft.meta.{Metadata, MetadataError}
    def cfg(stages: String): String =
      s"""{"curation": {"table": "documents", "id_column": "doc_id",
         |"text_column": "text", "report_by": "source",
         |"stages": [$stages]}}""".stripMargin
    // mask after a membership stage: the pre-pass contract is violated
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "dedup_exact", "name": "exact"},
        |{"type": "mask", "name": "late", "rules": [
        |  {"pattern": "x", "replacement": "y"}]}""".stripMargin)))
    // group references would mean different things in Spark and DuckDB
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "mask", "name": "refs", "rules": [
        |  {"pattern": "(a)b", "replacement": "$1"}]}""".stripMargin)))
    // a quote could escape the generated SQL literal
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "mask", "name": "quote", "rules": [
        |  {"pattern": "a'b", "replacement": "x"}]}""".stripMargin)))
    // an unparseable regex must not reach the executor
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "mask", "name": "bad", "rules": [
        |  {"pattern": "(a", "replacement": "x"}]}""".stripMargin)))
    // span_scrub is a pre-pass too: same ordering contract as mask
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "dedup_exact", "name": "exact"},
        |{"type": "span_scrub", "name": "late", "span_len": 8}""".stripMargin)))
    // out-of-range knobs die at parse time
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "span_scrub", "name": "tiny", "span_len": 1}""")))
    intercept[MetadataError](Metadata.parseCuration(cfg(
      """{"type": "containment", "name": "zero", "min_pct": 0}""")))
    // a streamed config with a corpus-scan pre-pass fails fast
    intercept[MetadataError] {
      val cur = Metadata.parseCuration(cfg(
        """{"type": "span_scrub", "name": "scrub", "span_len": 8}"""))
      CurationFlow.runStream(cur,
        graft.Tables.load(spark, sf("sf0.001"), "documents"))
    }
  }
}
