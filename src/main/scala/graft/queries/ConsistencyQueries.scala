package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 cross-table consistency audits (SURVEY §2 #241–#242): the
  * two structural-integrity reports a metadata-driven pipeline runs
  * before trusting a batch — referential integrity over every declared
  * foreign key, and primary-key uniqueness over every declared key.
  * The reference validates rows one table at a time
  * (pipeline/validator.py); these are the corpus-level
  * counterparts that catch BROKEN JOINS (orphans) and DOUBLE LOADS
  * (duplicate keys) before they silently corrupt downstream
  * consolidation.
  *
  * Scale shape: each relation audit is one anti-join shuffled on the
  * FK (both sides corpus-scaled — no hints; the planner broadcasts
  * genuinely small parents on its own) feeding 1-row aggregates; each
  * key audit is one partial-agg groupBy on the key. The report is a
  * union of one-row summaries — |relations| rows total, no
  * corpus-sized state on the driver.
  */
object ConsistencyQueries extends graft.QueryFamily {

  // ---------- q241: referential integrity ----------

  /** One FK relation audit row: child rows, orphan rows (no matching
    * parent), distinct orphan key values. */
  private def fkAudit(
      label: String,
      child: DataFrame,
      childKey: String,
      parent: DataFrame,
      parentKey: String): DataFrame = {
    val ch = child.select(col(childKey))
    val orphans = ch.join(parent.select(col(parentKey)),
      col(childKey) === col(parentKey), "left_anti")
    ch.agg(count(lit(1)).cast("long").as("n_child"))
      .crossJoin(orphans.agg(
        count(lit(1)).cast("long").as("n_orphan"),
        count_distinct(col(childKey)).as("n_orphan_keys")))
      .select(lit(label).as("relation"), col("n_child"), col("n_orphan"),
        col("n_orphan_keys"))
  }

  /** Referential-integrity audit over the star schema's seven declared
    * FK edges. All-zero orphan columns are the PASS certificate; any
    * non-zero row names the relation a load broke.
    *
    * The three lineitem edges share ONE fact scan: the three FK
    * columns are projected together and materialized once
    * (Lineage.cut — a pure performance cut, so the plan audit still
    * sees through it), and every lineitem audit (anti-join AND row
    * count) reads the narrow cached projection. At 100 TB the fact
    * scan dominates this audit's cost — one scan, not six. */
  def q241_referential_integrity(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Tables.load(spark, dir, n)
    val liKeys = graft.Lineage.cut(
      t("lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey")))
    val audits = Seq(
      fkAudit("customer->nation", t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
      fkAudit("lineitem->orders", liKeys, "l_orderkey", t("orders"), "o_orderkey"),
      fkAudit("lineitem->part", liKeys, "l_partkey", t("part"), "p_partkey"),
      fkAudit("lineitem->supplier", liKeys, "l_suppkey", t("supplier"), "s_suppkey"),
      fkAudit("nation->region", t("nation"), "n_regionkey", t("region"), "r_regionkey"),
      fkAudit("orders->customer", t("orders"), "o_custkey", t("customer"), "c_custkey"),
      fkAudit("supplier->nation", t("supplier"), "s_nationkey", t("nation"), "n_nationkey"))
    audits.reduce(_ unionAll _).orderBy("relation")
  }

  val q241_oracle: String = {
    def leg(label: String, child: String, ck: String, parent: String, pk: String) =
      s"""SELECT '$label' AS relation,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_child,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
         |    WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))
         |    AS n_orphan,
         |  (SELECT CAST(count(DISTINCT $ck) AS BIGINT) FROM $child c
         |    WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))
         |    AS n_orphan_keys""".stripMargin
    Seq(
      leg("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      leg("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      leg("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      leg("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      leg("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      leg("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      leg("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  // ---------- q242: primary-key uniqueness ----------

  /** One PK audit row: total rows, distinct keys, keys with more than
    * one row, and the worst multiplicity. */
  private def pkAudit(label: String, df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_keys"),
        count(when(col("c") > 1, 1)).cast("long").as("n_dup_keys"),
        max(col("c")).cast("long").as("max_multiplicity"))
      .select(lit(label).as("tbl"), col("n_rows"), col("n_keys"),
        col("n_dup_keys"), col("max_multiplicity"))

  /** Primary-key uniqueness audit over every declared key, including
    * lineitem's composite (orderkey, linenumber). n_dup_keys = 0 is
    * the PASS certificate; max_multiplicity sizes the worst double
    * load. */
  def q242_pk_violations(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Tables.load(spark, dir, n)
    val audits = Seq(
      pkAudit("customer", t("customer"), Seq("c_custkey")),
      pkAudit("documents", t("documents"), Seq("doc_id")),
      pkAudit("embeddings", t("embeddings"), Seq("vec_id")),
      pkAudit("lineitem", t("lineitem"), Seq("l_orderkey", "l_linenumber")),
      pkAudit("orders", t("orders"), Seq("o_orderkey")),
      pkAudit("part", t("part"), Seq("p_partkey")),
      pkAudit("supplier", t("supplier"), Seq("s_suppkey")))
    audits.reduce(_ unionAll _).orderBy("tbl")
  }

  val q242_oracle: String = {
    def leg(label: String, table: String, keys: String) =
      s"""SELECT '$label' AS tbl,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(count(CASE WHEN c > 1 THEN 1 END) AS BIGINT) AS n_dup_keys,
         |  CAST(max(c) AS BIGINT) AS max_multiplicity
         |FROM (SELECT count(*) AS c FROM $table GROUP BY $keys)""".stripMargin
    Seq(
      leg("customer", "customer", "c_custkey"),
      leg("documents", "documents", "doc_id"),
      leg("embeddings", "embeddings", "vec_id"),
      leg("lineitem", "lineitem", "l_orderkey, l_linenumber"),
      leg("orders", "orders", "o_orderkey"),
      leg("part", "part", "p_partkey"),
      leg("supplier", "supplier", "s_suppkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
  }

  // ---------- registry ----------

  // ---------- q263: temporal cross-table integrity ----------

  /** The TEMPORAL rule q241's structural audit can't see: a lineitem
    * must not ship before its order is placed. Per ship-month the
    * line count, violation count (lead < 0 — the PASS certificate is
    * all-zero, like q241's orphans), and the lead-time profile
    * (min/max days + exact micro-day mean) — the drift view that
    * catches a loader writing shifted timestamps even when every
    * lead stays legal.
    *
    * Scale shape: ONE orderkey-keyed join of the two fact tables
    * (both corpus-scaled — no hint, AQE decides), then a partial-agg
    * rollup to the MONTH axis (calendar-bounded). The mean divides
    * once per month row, integer-exact.
    */
  def q263_temporal_integrity(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.load(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lead_days"))
      .groupBy("ship_month")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        count_if(col("lead_days") < 0).cast("long").as("n_violations"),
        min(col("lead_days")).as("min_lead_days"),
        max(col("lead_days")).as("max_lead_days"),
        // DECIMAL(38,0) product: a long sum*1e6 overflows past ~9.2e12
        // total lead-days — reachable at the 100 TB fact scale.
        floor(sum(col("lead_days")).cast("decimal(38,0)") * 1000000L / count(lit(1)))
          .cast("long").as("avg_lead_micro"))
      .orderBy("ship_month")

  val q263_oracle: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(count(*) FILTER (
      |    WHERE date_diff('day', o_orderdate, l_shipdate) < 0) AS BIGINT)
      |    AS n_violations,
      |  CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
      |    AS min_lead_days,
      |  CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
      |    AS max_lead_days,
      |  CAST(floor(sum(CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT))
      |    * 1000000 / count(*)) AS BIGINT) AS avg_lead_micro
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY ship_month""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q263_temporal_integrity" -> (q263_temporal_integrity _),
    "q241_referential_integrity" -> (q241_referential_integrity _),
    "q242_pk_violations" -> (q242_pk_violations _))

  val oracles: Map[String, String] = Map(
    "q263_temporal_integrity" -> q263_oracle,
    "q241_referential_integrity" -> q241_oracle,
    "q242_pk_violations" -> q242_oracle)
}
