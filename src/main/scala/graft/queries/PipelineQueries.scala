package graft.queries

import graft.Tables
import graft.meta._
import graft.operators.{AddFields, Consolidator, Dedup, Validator}
import graft.pipeline.Runner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata-driven ETL operators as driver-checkable queries
  * (SURVEY §2 #1–#9).
  *
  * Each query has a DuckDB oracle; validation-rule SQL is *generated*
  * from the same `ValidationDef`s the Spark side executes, so both
  * engines share one definition of the semantics.
  */
object PipelineQueries extends graft.QueryFamily {

  // ---------- shared rule → DuckDB SQL generation ----------

  private def ruleCondSql(f: String, r: RuleDef): (String, String) = r match {
    case NotNullRule  => (s"($f IS NULL)", "notNull")
    case NotEmptyRule => (s"($f IS NOT NULL AND trim(CAST($f AS VARCHAR)) = '')", "notEmpty")
    case RegexRule(p) =>
      (s"($f IS NOT NULL AND NOT regexp_matches(CAST($f AS VARCHAR), '${p.replace("'", "''")}'))",
       s"regex: $p")
    case MinValueRule(m) =>
      val ms = if (m == m.floor && math.abs(m) < 1e15) m.toLong.toString else m.toString
      (s"($f IS NOT NULL AND CAST($f AS DOUBLE) < $ms)", s"minValue: $ms")
  }

  /** DuckDB boolean: this field has at least one error. */
  private def fieldErrSql(columns: Seq[String], v: ValidationDef): String =
    if (!columns.contains(v.field)) "TRUE"
    else v.rules.map(r => ruleCondSql(v.field, r)._1).mkString("(", " OR ", ")")

  /** DuckDB expression: comma-joined error labels for one field, NULL
    * when the field passes (concat_ws skips NULL branches in both
    * engines).
    */
  private def fieldErrStrSql(columns: Seq[String], v: ValidationDef): String =
    if (!columns.contains(v.field)) "'fieldMissing'"
    else {
      val cases = v.rules.map { r =>
        val (cond, label) = ruleCondSql(v.field, r)
        s"CASE WHEN $cond THEN '${label.replace("'", "''")}' END"
      }
      s"NULLIF(concat_ws(',', ${cases.mkString(", ")}), '')"
    }

  private def anyErrSql(columns: Seq[String], vs: Seq[ValidationDef]): String =
    vs.map(fieldErrSql(columns, _)).mkString("(", " OR ", ")")

  /** Spark twin of [[fieldErrStrSql]]: flatten the validator's error
    * array to the same comma-joined string.
    */
  private def fieldErrStrCol(columns: Seq[String], v: ValidationDef): Column =
    array_join(Validator.fieldErrors(columns, v), ",")

  // ---------- q01: schema enforcement ----------

  /** JSON metadata schema → StructType → typed parquet read. The
    * declared 4-column schema prunes the scan (ReadSchema shows only
    * these columns).
    */
  private val eventsSchemaJson =
    """{"type":"struct","fields":[
      |{"name":"event_id","type":"long","nullable":false},
      |{"name":"user_id","type":"long","nullable":true},
      |{"name":"event_type","type":"string","nullable":true},
      |{"name":"value","type":"double","nullable":true}]}""".stripMargin

  def q01_schema_enforce(spark: SparkSession, dir: String): DataFrame = {
    val meta = Metadata.parse(
      s"""{"dataflows":[{"name":"f","sources":[{
         |"name":"events","path":"$dir/events.parquet","format":"parquet",
         |"schema":$eventsSchemaJson,"schema_enforcement":{"enabled":true}
         |}]}]}""".stripMargin)
    val flow = meta.dataflows.head
    val result = Runner.runFlow(spark, flow,
      Runner.RunContext(None, None, Map.empty), writeSinks = false)
    result.catalog("events").orderBy("event_id")
  }

  val q01_oracle: String =
    "SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id"

  // ---------- q02: add_fields ----------

  def q02_add_fields(spark: SparkSession, dir: String): DataFrame = {
    val ctx = AddFields.BatchContext(Some("2025-12-01"), Some("run-001"))
    AddFields(
      Tables.load(spark, dir, "orders").select("o_orderkey", "o_totalprice"),
      Seq(
        "source_batch" -> "batch_id",
        "batch_date" -> "batch_date",
        "processed_run_id" -> "run_id"),
      ctx)
      .withColumn("batch_date", date_format(col("batch_date"), "yyyy-MM-dd"))
      .orderBy("o_orderkey")
  }

  val q02_oracle: String =
    """SELECT o_orderkey, o_totalprice,
      |  '2025-12-01' AS source_batch,
      |  '2025-12-01' AS batch_date,
      |  'run-001' AS processed_run_id
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------- q03/q04: validate_fields OK / KO ----------

  private val eventValidations = Seq(
    ValidationDef("user_id", Seq(NotNullRule)),
    ValidationDef("event_type", Seq(NotNullRule, NotEmptyRule, RegexRule("^[a-z_]+$"))),
    ValidationDef("value", Seq(NotNullRule, MinValueRule(10))),
    ValidationDef("props", Seq(NotNullRule, NotEmptyRule)))

  private val eventCols =
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  def q03_validate_ok(spark: SparkSession, dir: String): DataFrame = {
    val v = Validator.validate(Tables.load(spark, dir, "events"), eventValidations)
    v.ok.select("event_id", "user_id", "event_type", "value").orderBy("event_id")
  }

  def q03OracleSql: String =
    s"""SELECT event_id, user_id, event_type, value FROM events
       |WHERE NOT ${anyErrSql(eventCols, eventValidations)}
       |ORDER BY event_id""".stripMargin

  def q04_validate_ko(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.load(spark, dir, "events")
    val v = Validator.validate(df, eventValidations)
    val errCols = eventValidations.map(vd =>
      fieldErrStrCol(df.columns.toSeq, vd).as(s"${vd.field}_errors"))
    v.ko.select(col("event_id") +: errCols: _*).orderBy("event_id")
  }

  def q04OracleSql: String = {
    val errSelects = eventValidations.map(v =>
      s"${fieldErrStrSql(eventCols, v)} AS ${v.field}_errors")
    s"""SELECT event_id, ${errSelects.mkString(", ")} FROM events
       |WHERE ${anyErrSql(eventCols, eventValidations)}
       |ORDER BY event_id""".stripMargin
  }

  // ---------- q05: fieldMissing ----------

  private val missingValidation = Seq(
    ValidationDef("doc_id", Seq(NotNullRule)),
    ValidationDef("plate_number", Seq(NotNullRule, RegexRule("^[A-Z0-9-]+$"))))

  def q05_validate_fieldmissing(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.load(spark, dir, "documents")
    val v = Validator.validate(df, missingValidation)
    val errCols = missingValidation.map(vd =>
      fieldErrStrCol(df.columns.toSeq, vd).as(s"${vd.field}_errors"))
    // text_chars pins each KO row to the record's CONTENT — the error
    // strings alone are rule-derived, identical over any corpus
    // sharing the id space
    v.ko.select(col("doc_id") +: errCols :+
        length(col("text")).as("text_chars"): _*)
      .orderBy("doc_id")
  }

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  def q05OracleSql: String = {
    val errSelects = missingValidation.map(v =>
      s"${fieldErrStrSql(docCols, v)} AS ${v.field}_errors")
    s"""SELECT doc_id, ${errSelects.mkString(", ")},
       |  length(text) AS text_chars FROM documents
       |WHERE ${anyErrSql(docCols, missingValidation)}
       |ORDER BY doc_id""".stripMargin
  }

  // ---------- q06: keep-newest dedup ----------

  def q06_dedup_keep_latest(spark: SparkSession, dir: String): DataFrame =
    Dedup.keepNewest(
      Tables.load(spark, dir, "orders"),
      key = col("o_custkey"),
      orderBy = col("o_orderdate"),
      tieBreaker = col("o_orderkey"))
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_order_date"),
        col("o_totalprice"))
      .orderBy("o_custkey")

  val q06_oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS latest_order_date, o_totalprice
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // ---------- q62: window-function dedup (comparison twin of q06) ----------

  /** The reference's literal formulation — ROW_NUMBER() OVER
    * (PARTITION BY key ORDER BY ...) = 1 — kept as a benchmarked
    * counterpoint to q06's max_by form. Same rows, same oracle; the
    * plan difference is the point: the window shuffles EVERY input row
    * before discarding losers, while max_by's map-side partial
    * aggregation ships at most one row per key per task.
    *
    * Measured honestly: at sf0.1 on local[32] the window form is
    * actually the faster of the two (~0.9 s vs ~1.3 s) — a local
    * shuffle is a memory copy, so shuffle VOLUME is free and the
    * window's single sort beats the hash-agg's per-row struct
    * building. The max_by advantage is a network-bound-cluster
    * property (tens of GB vs the full fact table over the wire), not
    * a single-node one — which is exactly why both formulations stay
    * in the bench.
    */
  def q62_dedup_window(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.load(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_order_date"),
        col("o_totalprice"))
      .orderBy("o_custkey")
  }

  // ---------- q07: incremental consolidation ----------

  /** Simulates the reference's incremental flow: the pre-1998 orders
    * were consolidated previously; orders from 1998 on arrive as new
    * batches; incremental consolidation unions and re-dedups. The
    * oracle is the semantic invariant: the result equals keep-newest
    * over ALL orders.
    */
  def q07_consolidate_incremental(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
    val cfg = ConsolidationDef(
      enabled = true, inputPattern = "", outputPath = "",
      dedup = DedupDef(enabled = true, keyColumn = "o_custkey",
        orderBy = "o_orderdate", orderDirection = "DESC"))
    val existing = Consolidator.dedup(orders.filter(col("o_orderdate") < cutoff), cfg, "o_orderkey")
    val incoming = orders.filter(col("o_orderdate") >= cutoff)
    Consolidator.consolidate(incoming, Some(existing), cfg, "o_orderkey").df
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_order_date"))
      .orderBy("o_custkey")
  }

  val q07_oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS latest_order_date
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // ---------- q08: incremental batch filtering ----------

  /** Manifest watermark semantics: event days are the "batches";
    * only days strictly after the watermark are processed. The
    * watermark is pushed as a predicate straight into the distributed
    * scan — ISO dates compare as strings, so `batch_day > watermark`
    * IS the strictly-greater rule of [[BatchDiscovery.filterNew]],
    * with no pass over the data to enumerate batch days first. (When
    * batches are physical, the real pipeline derives the list from FS
    * metadata via [[BatchDiscovery.discover]] — the storage layout
    * already knows the days; scanning 100 TB to learn them is never
    * right.)
    */
  def q08_batch_filter(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val watermark = "2024-01-10"
    val day = date_format(col("ts"), "yyyy-MM-dd")
    events
      .withColumn("batch_day", day)
      .filter(col("batch_day") > lit(watermark))
      .groupBy("batch_day")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("batch_day")
  }

  val q08_oracle: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS batch_day,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') > '2024-01-10'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- q71: streaming consolidation ≡ batch consolidation ----------

  /** Batch-equivalence harness for the streaming path: q07's two batch
    * splits (pre-/post-cutoff orders) are staged as files, streamed
    * through [[graft.streaming.StreamingConsolidation]] one file per
    * micro-batch, and the final snapshot is projected exactly like
    * q07 — so the DuckDB oracle for q07 (keep-newest over ALL orders)
    * gates the STREAMING engine, not just its specs. Works because the
    * sink's union+keepNewest merge is order-aware: any batch split of
    * the same rows converges to the same snapshot.
    */
  def q71_stream_consolidate(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q71-") { work =>
      val watchDir = s"$work/incoming"
      val snapshot = s"$work/snapshot"
      val orders = Tables.load(spark, dir, "orders")
      val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
      // stage q07's batches as single files the stream can pick up
      // one-at-a-time (one file per batch is harness plumbing, not the
      // operator)
      graft.streaming.FileFeed.write(watchDir, Seq(
        "b0" -> orders.filter(col("o_orderdate") < cutoff),
        "b1" -> orders.filter(col("o_orderdate") >= cutoff)))
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      import graft.streaming.StreamingConsolidation.{fold, keepNewest}
      graft.streaming.FileFeed.drain(spark, watchDir, schema, s"$work/checkpoint")(
        _.writeStream.foreachBatch(
          fold(snapshot)(keepNewest("o_custkey", "o_orderdate", "o_orderkey"))))
      spark.read.parquet(snapshot)
        .select(
          col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_order_date"))
        .orderBy("o_custkey")
    }

  // ---------- q97: schema evolution across batch generations ----------

  /** Schema EVOLUTION — the ingestion reality the reference's strict
    * schema enforcement (q01) doesn't cover: a long-lived dataset's
    * producers upgrade, so stored batches disagree on schema (an old
    * batch lacks the `lang` column a newer producer added). The read
    * side must merge file schemas (parquet mergeSchema + partition
    * discovery over batch= directories), surface the missing column
    * as NULL for old rows, and keep every downstream aggregate
    * well-defined. The oracle recomputes the same answer from the
    * unsplit table — the evolution plumbing must be semantically
    * invisible (the q49/q90 transparency rule).
    *
    * Scale shape: schema merge happens at file-footer level (no data
    * read), partition discovery prunes on batch like any partition
    * column, and the aggregate is one partial-agg scan. On a 100 TB
    * lake this is the difference between "re-write every historical
    * batch on schema change" and "just read it".
    */
  def q97_schema_evolution(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q97-") { work =>
      val docs = Tables.load(spark, dir, "documents")
      // generation b0: written before the producer knew about `lang`
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "source", "n_chars")
        .write.parquet(s"$work/in/batch=b0")
      // generation b1: the schema grew a column
      docs.filter(col("doc_id") % 2 =!= 0)
        .select("doc_id", "source", "n_chars", "lang")
        .write.parquet(s"$work/in/batch=b1")
      spark.read.option("mergeSchema", "true").parquet(s"$work/in")
        .select(col("batch"), col("source"),
          coalesce(col("lang"), lit("unknown")).as("lang"), col("n_chars"))
        .groupBy("batch", "source", "lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("batch", "source", "lang")
    }

  val q97_oracle: String =
    """SELECT CASE WHEN doc_id % 2 = 0 THEN 'b0' ELSE 'b1' END AS batch,
      |  source,
      |  CASE WHEN doc_id % 2 = 0 THEN 'unknown' ELSE lang END AS lang,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY 1, 2, 3 ORDER BY batch, source, lang""".stripMargin

  // ---------- q09: full metadata-driven flow ----------

  private val docValidations = Seq(
    ValidationDef("text", Seq(NotNullRule, NotEmptyRule)),
    ValidationDef("n_chars", Seq(NotNullRule, MinValueRule(100))),
    ValidationDef("lang", Seq(NotNullRule, RegexRule("^(en|de|fr)$"))))

  private def e2eMetaJson(dir: String): String =
    s"""{
       |"processing_mode": "incremental",
       |"dataflows": [{
       |  "name": "doc-ingestion",
       |  "sources": [{
       |    "name": "docs", "path": "$dir/documents.parquet",
       |    "format": "parquet", "required": true
       |  }],
       |  "transformations": [
       |    {"name": "with_batch_meta", "type": "add_fields", "params": {
       |      "input": "docs",
       |      "addFields": [
       |        {"name": "source_batch", "function": "batch_id"},
       |        {"name": "processed_run_id", "function": "run_id"}]}},
       |    {"name": "validation", "type": "validate_fields", "params": {
       |      "input": "with_batch_meta",
       |      "validations": [
       |        {"field": "text", "rules": ["notNull", "notEmpty"]},
       |        {"field": "n_chars", "rules": ["notNull", {"name": "minValue", "params": 100}]},
       |        {"field": "lang", "rules": ["notNull", {"name": "regex", "params": "^(en|de|fr)$$"}]}]}}
       |  ],
       |  "sinks": []
       |}]}""".stripMargin

  def q09_pipeline_e2e(spark: SparkSession, dir: String): DataFrame = {
    val meta = Metadata.parse(e2eMetaJson(dir))
    val result = Runner.runFlow(
      spark, meta.dataflows.head,
      Runner.RunContext(Some("2025-12-01"), Some("run-001"), Map.empty),
      writeSinks = false)
    result.catalog("validation_ok")
      .select("doc_id", "lang", "n_chars", "source_batch", "processed_run_id")
      .orderBy("doc_id")
  }

  private val docMetaCols = docCols ++ Seq("source_batch", "processed_run_id")

  def q09OracleSql: String =
    s"""SELECT doc_id, lang, n_chars,
       |  '2025-12-01' AS source_batch, 'run-001' AS processed_run_id
       |FROM documents
       |WHERE NOT ${anyErrSql(docMetaCols, docValidations)}
       |ORDER BY doc_id""".stripMargin

  // ---------- q253: dead-letter ledger with declared patch retry ----------

  /** The analytics-feed RELEASE profile: q03/q04's rules tightened
    * with the event-type whitelist (error telemetry does not belong in
    * the product-analytics feed — and it has no declared patch). */
  private val dlqValidations = Seq(
    ValidationDef("user_id", Seq(NotNullRule)),
    ValidationDef("event_type",
      Seq(NotNullRule, RegexRule("^(view|click|purchase|signup)$"))),
    ValidationDef("value", Seq(NotNullRule, MinValueRule(10))),
    ValidationDef("props", Seq(NotNullRule, NotEmptyRule)))

  /** The DEAD-LETTER leg of the validation pipeline (q03/q04 split the
    * batch; this is what happens to the KO side): failures against the
    * [[dlqValidations]] release profile group by their full error
    * SIGNATURE (field=errors joined across fields — the key an on-call
    * triages by), the metadata-declared patch policy is applied
    * (`value` below the floor clamps to it, empty or NULL `props`
    * defaults to `{}` — the two transient-extract glitches), the
    * patched rows RE-VALIDATE under the same rules, and the ledger
    * reports per signature: arrivals, recoveries, and the rows that
    * stay dead (unpatchable fields — a whitelisted-out event_type or a
    * NULL user_id has no declared default; a row failing both a
    * patchable and an unpatchable rule stays dead too). The oracle
    * re-derives the same ledger from the generated rule SQL: patch +
    * re-validate, not a hand-copied verdict.
    *
    * Scale shape: validation, signature, patch, and re-validation are
    * all narrow per-row expressions in ONE scan (the Validator's
    * codegen contract); the only shuffle is the signature-keyed
    * aggregate, whose output is error-taxonomy-sized, never row-sized.
    */
  def q253_dead_letter(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.load(spark, dir, "events")
    val cols = df.columns.toSeq
    val anyErr = dlqValidations
      .map(vd => Validator.fieldErrors(cols, vd).isNotNull)
      .reduce(_ || _)
    val sigParts = dlqValidations.map { vd =>
      val e = fieldErrStrCol(cols, vd)
      when(e.isNotNull, concat(lit(vd.field + "="), e))
    }
    val ko = df.filter(coalesce(anyErr, lit(false)))
      .withColumn("signature", concat_ws(";", sigParts: _*))
    // the declared patch policy: clamp value to the rule floor,
    // default empty/NULL props — then re-validate with the SAME rules
    val patched = ko
      .withColumn("value",
        when(col("value").isNull || col("value") < 10.0, lit(10.0))
          .otherwise(col("value")))
      .withColumn("props",
        when(col("props").isNull || trim(col("props")) === "", lit("{}"))
          .otherwise(col("props")))
    val stillErr = dlqValidations
      .map(vd => Validator.fieldErrors(cols, vd).isNotNull)
      .reduce(_ || _)
    patched
      .withColumn("dead", coalesce(stillErr, lit(false)))
      .groupBy("signature")
      .agg(
        count(lit(1)).cast("long").as("n_failed"),
        count_if(!col("dead")).cast("long").as("n_recovered"),
        count_if(col("dead")).cast("long").as("n_dead"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"))
      .orderBy("signature")
  }

  def q253OracleSql: String = {
    val sigParts = dlqValidations.map { v =>
      val e = fieldErrStrSql(eventCols, v)
      s"CASE WHEN $e IS NOT NULL THEN '${v.field}=' || $e END"
    }
    s"""WITH ko AS (
       |  SELECT event_id, ts, user_id, event_type,
       |    concat_ws(';', ${sigParts.mkString(",\n      ")}) AS signature,
       |    CASE WHEN value IS NULL OR CAST(value AS DOUBLE) < 10
       |      THEN 10 ELSE value END AS value,
       |    CASE WHEN props IS NULL OR trim(props) = ''
       |      THEN '{}' ELSE props END AS props
       |  FROM events
       |  WHERE ${anyErrSql(eventCols, dlqValidations)})
       |SELECT signature,
       |  CAST(count(*) AS BIGINT) AS n_failed,
       |  CAST(count(*) FILTER (WHERE NOT ${anyErrSql(eventCols, dlqValidations)}) AS BIGINT) AS n_recovered,
       |  CAST(count(*) FILTER (WHERE ${anyErrSql(eventCols, dlqValidations)}) AS BIGINT) AS n_dead,
       |  min(event_id) AS first_event_id,
       |  max(event_id) AS last_event_id
       |FROM ko GROUP BY signature ORDER BY signature""".stripMargin
  }

  // ---------- q271: metadata-driven multi-sink routing ----------

  /** The SINK layer end-to-end, driver-gated: one declared flow routes
    * the validation split to TWO physical sinks — the OK leg
    * partitioned by lang (hive layout, the pruning contract
    * SourceSinkSpec pins), the KO leg flat — then both sinks are read
    * BACK from disk and labeled. What the oracle certifies is the
    * whole declared path: rule evaluation, the ok/ko catalog split,
    * sink path templating, save mode, partitioning, and the parquet
    * round-trip — not a DataFrame that never left the session.
    * (q09 proves the transformation chain with sinks dry-run; this is
    * the missing write leg.)
    *
    * Scale shape: one scan through codegen'd validation, two sink
    * writes (the partitioned leg shuffles only into its partition
    * dirs), one labeled union on read-back.
    */
  def q271_multi_sink(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q271-") { work =>
      val meta = Metadata.parse(
        s"""{
           |"dataflows": [{
           |  "name": "doc-routing",
           |  "sources": [{
           |    "name": "docs", "path": "$dir/documents.parquet",
           |    "format": "parquet", "required": true}],
           |  "transformations": [
           |    {"name": "validation", "type": "validate_fields", "params": {
           |      "input": "docs",
           |      "validations": [
           |        {"field": "text", "rules": ["notNull", "notEmpty"]},
           |        {"field": "n_chars", "rules": ["notNull", {"name": "minValue", "params": 100}]},
           |        {"field": "lang", "rules": ["notNull", {"name": "regex", "params": "^(en|de|fr)$$"}]}]}}
           |  ],
           |  "sinks": [
           |    {"input": "validation_ok", "name": "ok_sink", "path": "$work/ok",
           |     "format": "parquet", "saveMode": "overwrite", "partitionBy": ["lang"]},
           |    {"input": "validation_ko", "name": "ko_sink", "path": "$work/ko",
           |     "format": "parquet", "saveMode": "overwrite"}]
           |}]}""".stripMargin)
      Runner.runFlow(spark, meta.dataflows.head,
        Runner.RunContext(None, None, Map.empty), writeSinks = true)
      val ok = spark.read.parquet(s"$work/ok")
        .select(col("doc_id"), col("lang").cast("string").as("lang"),
          lit("ok").as("leg"))
      val ko = spark.read.parquet(s"$work/ko")
        .select(col("doc_id"), col("lang").cast("string").as("lang"),
          lit("ko").as("leg"))
      ok.unionByName(ko).orderBy("doc_id")
    }

  def q271OracleSql: String =
    s"""SELECT doc_id, lang,
       |  CASE WHEN ${anyErrSql(docCols, docValidations)}
       |    THEN 'ko' ELSE 'ok' END AS leg
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q271_multi_sink" -> (q271_multi_sink _),
    "q253_dead_letter" -> (q253_dead_letter _),
    "q01_schema_enforce" -> (q01_schema_enforce _),
    "q02_add_fields" -> (q02_add_fields _),
    "q03_validate_ok" -> (q03_validate_ok _),
    "q04_validate_ko" -> (q04_validate_ko _),
    "q05_validate_fieldmissing" -> (q05_validate_fieldmissing _),
    "q06_dedup_keep_latest" -> (q06_dedup_keep_latest _),
    "q07_consolidate_incremental" -> (q07_consolidate_incremental _),
    "q08_batch_filter" -> (q08_batch_filter _),
    "q09_pipeline_e2e" -> (q09_pipeline_e2e _),
    "q71_stream_consolidate" -> (q71_stream_consolidate _),
    "q62_dedup_window" -> (q62_dedup_window _),
    "q97_schema_evolution" -> (q97_schema_evolution _))

  val oracles: Map[String, String] = Map(
    "q253_dead_letter" -> q253OracleSql,
    "q271_multi_sink" -> q271OracleSql,
    "q01_schema_enforce" -> q01_oracle,
    "q02_add_fields" -> q02_oracle,
    "q03_validate_ok" -> q03OracleSql,
    "q04_validate_ko" -> q04OracleSql,
    "q05_validate_fieldmissing" -> q05OracleSql,
    "q06_dedup_keep_latest" -> q06_oracle,
    "q07_consolidate_incremental" -> q07_oracle,
    "q08_batch_filter" -> q08_oracle,
    "q09_pipeline_e2e" -> q09OracleSql,
    // the streaming path must reproduce the BATCH consolidation
    // invariant — q07's oracle applies verbatim
    "q71_stream_consolidate" -> q07_oracle,
    // identical result to q06 by design — the formulations must agree
    "q62_dedup_window" -> q06_oracle,
    "q97_schema_evolution" -> q97_oracle)
}
