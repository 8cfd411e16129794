package graft.queries

import graft.Tables
import graft.meta.{ConsolidationDef, DedupDef}
import graft.operators.Consolidator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Change-data-capture between consolidated snapshots (round 6).
  *
  * The reference pipeline's consolidation
  * (/root/reference/pipeline/consolidator.py:37-88) produces
  * keep-newest snapshots per run but offers no way to ask "what did
  * this run CHANGE?" — the changelog a downstream incremental consumer
  * (index refresh, cache invalidation, replication) actually wants.
  * q85 derives that changelog declaratively from two snapshot
  * versions, the lakehouse CDF operation expressed as one
  * key-equi full-outer join.
  */
object ChangeCapture extends graft.QueryFamily {

  /** Snapshot diff → changelog: consolidate the pre-1998 orders
    * (snapshot v1 — same split as q07), consolidate all orders
    * (snapshot v2 = v1 + the 1998+ ingest), and emit one row per
    * changed key with op ∈ {insert, update, delete}: `insert` = key
    * only in v2, `delete` = key only in v1 (structurally possible for
    * a retention-pruning consolidation, empty for this append-only
    * flow — the oracle pins that emptiness rather than assuming it),
    * `update` = key in both with any tracked column changed.
    * Unchanged keys are filtered out before the sort, so the output is
    * proportional to the DELTA, not the snapshot.
    *
    * Scale shape: both snapshots are keep-newest aggregations
    * partitioned by the same key, and the diff is a key-equi
    * full-outer join — on a cluster with snapshots bucketed by key
    * (io/Layout), v1 reuses its partitioning and the join is
    * zero-exchange. Nothing here scans more than the two snapshots
    * once; no driver-side state.
    */
  def q85_cdc_changelog(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
    val cfg = ConsolidationDef(
      enabled = true, inputPattern = "", outputPath = "",
      dedup = DedupDef(enabled = true, keyColumn = "o_custkey",
        orderBy = "o_orderdate", orderDirection = "DESC"))
    def snap(df: DataFrame): DataFrame =
      Consolidator.dedup(df, cfg, "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"))
    val v1 = snap(orders.filter(col("o_orderdate") < cutoff))
      .select(col("o_custkey"), col("o_orderkey").as("old_orderkey"),
        col("order_date").as("old_date"), col("o_totalprice").as("old_price"))
    val v2 = snap(orders)
      .select(col("o_custkey"), col("o_orderkey").as("new_orderkey"),
        col("order_date").as("new_date"), col("o_totalprice").as("new_price"))
    snapshotDiff(v1, v2, "o_custkey", "old_orderkey", "new_orderkey",
      Seq("old_orderkey" -> "new_orderkey", "old_date" -> "new_date",
        "old_price" -> "new_price"))
      .select("op", "o_custkey", "old_orderkey", "new_orderkey",
        "old_date", "new_date", "old_price", "new_price")
      .orderBy("o_custkey")
  }

  /** The CDC core, factored so a spec can drive it with NULL-bearing
    * fixtures: full-outer join on `key`, presence decided by the
    * guaranteed-non-null `oldPresent`/`newPresent` columns, and change
    * detection with NULL-SAFE inequality (`!(a <=> b)`) — a tracked
    * column transitioning NULL→value or value→NULL IS an update. The
    * plain `=!=` form would yield a NULL predicate there and silently
    * drop the row from the changelog (CdcNullSpec pins both
    * transitions; the oracle's IS DISTINCT FROM is the DuckDB twin).
    */
  private[queries] def snapshotDiff(v1: DataFrame, v2: DataFrame,
      key: String, oldPresent: String, newPresent: String,
      tracked: Seq[(String, String)]): DataFrame =
    v1.join(v2, Seq(key), "full_outer")
      .withColumn("op",
        when(col(oldPresent).isNull, "insert")
          .when(col(newPresent).isNull, "delete")
          .when(tracked.map { case (o, n) => !(col(o) <=> col(n)) }
            .reduce(_ || _), "update"))
      .filter(col("op").isNotNull)

  val q85_oracle: String =
    """WITH v1 AS (
      |  SELECT o_custkey, o_orderkey AS old_orderkey,
      |    strftime(o_orderdate, '%Y-%m-%d') AS old_date,
      |    o_totalprice AS old_price
      |  FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |  WHERE rn = 1),
      |v2 AS (
      |  SELECT o_custkey, o_orderkey AS new_orderkey,
      |    strftime(o_orderdate, '%Y-%m-%d') AS new_date,
      |    o_totalprice AS new_price
      |  FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1),
      |diff AS (
      |  SELECT COALESCE(v1.o_custkey, v2.o_custkey) AS o_custkey,
      |    old_orderkey, new_orderkey, old_date, new_date, old_price, new_price,
      |    CASE WHEN old_orderkey IS NULL THEN 'insert'
      |         WHEN new_orderkey IS NULL THEN 'delete'
      |         WHEN old_orderkey IS DISTINCT FROM new_orderkey
      |              OR old_date IS DISTINCT FROM new_date
      |              OR old_price IS DISTINCT FROM new_price THEN 'update' END AS op
      |  FROM v1 FULL OUTER JOIN v2 ON v1.o_custkey = v2.o_custkey)
      |SELECT op, o_custkey, old_orderkey, new_orderkey,
      |  old_date, new_date, old_price, new_price
      |FROM diff WHERE op IS NOT NULL
      |ORDER BY o_custkey""".stripMargin

  // ---------- q90: range-clustered layout, pruned range scan ----------

  /** The storage-layout lifecycle driver-gated — [[graft.io.Layout]]'s
    * range clustering exercised end-to-end: write the corpus
    * range-clustered on doc_id (each parquet file owns a disjoint
    * doc_id range with tight min/max stats), reopen, and answer a
    * range query. The oracle is the plain filtered aggregate — the
    * layout must be semantically TRANSPARENT (same q49 rule for bloom
    * pruning); what the clustering buys is that the range predicate
    * prunes to the ~1 file in 8 whose range intersects, which at
    * 100 TB is the difference between scanning 12.5 TB and 100 TB.
    * LayoutSpec pins the disjoint-ranges property itself; here the
    * read path (footer-stats row-group skipping under a pushed range
    * predicate) runs against the real written artifact.
    */
  def q90_layout_prune(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q90-") { work =>
      graft.io.Layout.writeRangeClustered(
        Tables.load(spark, dir, "documents").select("doc_id", "source", "n_chars"),
        s"$work/docs", numFiles = 8, "doc_id")
      spark.read.parquet(s"$work/docs")
        .filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("source")
    }

  val q90_oracle: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE doc_id >= 100 AND doc_id < 200
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------- q101: Z-order layout, two-dimensional pruned scan ----------

  /** The multi-dimensional member of the layout family (round 8):
    * [[graft.io.Layout.writeZOrdered]] driver-gated end-to-end. q90's
    * range clustering prunes perfectly on doc_id and not at all on any
    * other column; here the corpus is written Z-ORDERED on
    * (doc_id, n_chars) — each parquet file covers one contiguous
    * Morton-code range, i.e. a small RECTANGLE in (doc_id, n_chars)
    * space — and a conjunctive band predicate over both dimensions is
    * answered from the reopened artifact. Same transparency rule as
    * q49/q90: the oracle is the plain filtered aggregate, because a
    * storage layout must never change answers; what it changes is that
    * BOTH halves of the predicate prune files (ZOrderSpec measures the
    * file-skip effect against a single-column clustering of the same
    * data). At 100 TB this is the difference between "fast queries on
    * the one blessed sort column" and "fast queries on every clustered
    * dimension".
    */
  def q101_zorder(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q101-") { work =>
      graft.io.Layout.writeZOrdered(
        Tables.load(spark, dir, "documents").select("doc_id", "source", "n_chars"),
        s"$work/docs", numFiles = 16, "doc_id", "n_chars")
      spark.read.parquet(s"$work/docs")
        .filter(col("doc_id") >= 100 && col("doc_id") < 400 &&
          col("n_chars") >= 150 && col("n_chars") < 300)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("source")
    }

  val q101_oracle: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE doc_id >= 100 AND doc_id < 400 AND n_chars >= 150 AND n_chars < 300
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------- q115: O(delta) change feed from the versioned table ----------

  /** The change feed read the WAY a lakehouse CDF actually computes
    * it: q85 diffs two full snapshots (O(|v1|+|v2|)); here the same
    * changelog derives from ONE delta commit of the q103 versioned
    * table joined against prior state — O(|delta| + touched keys).
    * Commit pre-1998 orders as version 1 and the 1998+ ingest as
    * version 2, read version 2's delta directory ALONE
    * ([[graft.io.Versioned.readDelta]] — nothing replayed), keep-newest
    * within the delta, and left-join against version 1's consolidated
    * state: absent key → insert; present and the delta row wins the
    * keep-newest order (raw-timestamp compare, NOT the formatted
    * date — intraday ordering matters) with any tracked column
    * changed → update. Deletes cannot arise from an append-only
    * delta, and a delta row that LOSES to state emits nothing — both
    * exactly as the snapshot diff would decide.
    *
    * The oracle is BY DESIGN q85's oracle, verbatim (one shared
    * constant, not a copied string): the O(delta) path must be
    * indistinguishable from the two-snapshot diff — the q94/q107
    * incremental-≡-rescan rule applied to change capture.
    */
  def q115_version_diff(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    graft.io.Scratch.scoped(spark, "graft-q115-") { work =>
      val table = s"$work/orders_cdf"
      val orders = Tables.load(spark, dir, "orders")
      val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
      val v1 = Versioned.commit(spark, table, orders.filter(col("o_orderdate") < cutoff))
      val v2 = Versioned.commit(spark, table, orders.filter(col("o_orderdate") >= cutoff))
      val cfg = ConsolidationDef(
        enabled = true, inputPattern = "", outputPath = "",
        dedup = DedupDef(enabled = true, keyColumn = "o_custkey",
          orderBy = "o_orderdate", orderDirection = "DESC"))
      val state1 = Consolidator.dedup(Versioned.readAsOf(spark, table, v1), cfg, "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey").as("old_orderkey"),
          col("o_orderdate").as("old_ts"), col("o_totalprice").as("old_price"))
      val deltaWin = Consolidator.dedup(Versioned.readDelta(spark, table, v2), cfg, "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey").as("new_orderkey"),
          col("o_orderdate").as("new_ts"), col("o_totalprice").as("new_price"))
      deltaChangelog(state1, deltaWin)
        .orderBy("o_custkey")
    }
  }

  /** The O(delta) changelog core, factored so DeltaChangelogSpec can
    * drive the branches the corpus cannot: a delta row that LOSES the
    * keep-newest order to prior state must emit nothing (the corpus's
    * delta is entirely newer than its state), and tombstone rows
    * ([[graft.io.Versioned.tombstoneCol]], when the delta carries the
    * column) emit `delete` for keys that existed — with the NEW side
    * nulled, as the two-snapshot diff would show — and NOTHING for
    * keys that never did (deleting the absent is a no-op, not an
    * event). Inputs are the projected prior-state and delta-winner
    * frames keyed by o_custkey.
    */
  private[queries] def deltaChangelog(state1: DataFrame, deltaWin: DataFrame): DataFrame = {
    val oldDate = date_format(col("old_ts"), "yyyy-MM-dd")
    val newDate = date_format(col("new_ts"), "yyyy-MM-dd")
    val tombstone =
      if (deltaWin.columns.contains(graft.io.Versioned.tombstoneCol))
        coalesce(col(graft.io.Versioned.tombstoneCol), lit(false))
      else lit(false)
    deltaWin.join(state1, Seq("o_custkey"), "left_outer")
      .filter(col("old_orderkey").isNull ||        // new key
        col("new_ts") > col("old_ts") ||           // delta wins keep-newest
        (col("new_ts") === col("old_ts") && col("new_orderkey") > col("old_orderkey")))
      .withColumn("op",
        when(tombstone && col("old_orderkey").isNotNull, "delete")
          .when(tombstone, lit(null))              // tombstone for an absent key
          .when(col("old_orderkey").isNull, "insert")
          .when(!(col("old_orderkey") <=> col("new_orderkey")) ||
            !(oldDate <=> newDate) ||
            !(col("old_price") <=> col("new_price")), "update"))
      .filter(col("op").isNotNull)
      .select(col("op"), col("o_custkey"),
        col("old_orderkey"),
        when(col("op") === "delete", lit(null).cast("long"))
          .otherwise(col("new_orderkey")).as("new_orderkey"),
        oldDate.as("old_date"),
        when(col("op") === "delete", lit(null).cast("string"))
          .otherwise(newDate).as("new_date"),
        col("old_price"),
        when(col("op") === "delete", lit(null).cast("double"))
          .otherwise(col("new_price")).as("new_price"))
  }

  // ---------- q121: retention erasure through the versioned delete path ----------

  /** DELETE driven through the append-only versioned table — the
    * right-to-erasure / retention-expiry operation a lakehouse needs
    * without ever rewriting published files: version 1 commits the
    * pre-1998 orders; version 2 commits TOMBSTONES
    * ([[graft.io.Versioned.tombstones]]) for every dormant customer
    * (latest order before 1997), dated at the cutoff so they win the
    * table's keep-newest order; the change feed then reads version
    * 2's delta ALONE (q115's O(delta) path) and emits one `delete`
    * row per erased key with the old state attached — what a
    * downstream index/replica consumes to forget the keys. The
    * as-of-v2 squash ([[graft.io.Versioned.dropTombstones]]) and
    * compaction erase the same keys from reads; VersionedSpec pins
    * that round trip, DeltaChangelogSpec the tombstone branches
    * (winning / absent-key / losing).
    *
    * The oracle derives the erased set declaratively from the orders
    * table (the transparency rule: the versioned machinery must
    * produce exactly the rows the SQL definition of "dormant keys
    * with their last known state" produces).
    */
  def q121_delete_feed(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    graft.io.Scratch.scoped(spark, "graft-q121-") { work =>
      val table = s"$work/orders_erasure"
      val orders = Tables.load(spark, dir, "orders")
      val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
      val dormantBefore = to_timestamp(lit("1997-01-01 00:00:00"))
      val v1 = Versioned.commit(spark, table, orders.filter(col("o_orderdate") < cutoff))
      val cfg = ConsolidationDef(
        enabled = true, inputPattern = "", outputPath = "",
        dedup = DedupDef(enabled = true, keyColumn = "o_custkey",
          orderBy = "o_orderdate", orderDirection = "DESC"))
      val state1full = Consolidator.dedup(Versioned.readAsOf(spark, table, v1), cfg, "o_orderkey")
      def nullAs(c: String) =
        lit(null).cast(state1full.schema(c).dataType).as(c)
      // tombstones carry the key + a winning order position; payload
      // columns are nulled (the keep-newest schema, value-free)
      val tomb = Versioned.tombstones(
        state1full.filter(col("o_orderdate") < dormantBefore)
          .select(col("o_custkey"), nullAs("o_orderkey"),
            cutoff.as("o_orderdate"), nullAs("o_totalprice")))
      val v2 = Versioned.commit(spark, table, tomb)
      val state1 = state1full
        .select(col("o_custkey"), col("o_orderkey").as("old_orderkey"),
          col("o_orderdate").as("old_ts"), col("o_totalprice").as("old_price"))
      val deltaWin = Consolidator.dedup(Versioned.readDelta(spark, table, v2), cfg, "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey").as("new_orderkey"),
          col("o_orderdate").as("new_ts"), col("o_totalprice").as("new_price"),
          col(Versioned.tombstoneCol))
      deltaChangelog(state1, deltaWin)
        .select("op", "o_custkey", "old_orderkey", "old_date", "old_price")
        .orderBy("o_custkey")
    }
  }

  val q121_oracle: String =
    """WITH v1 AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |  WHERE rn = 1)
      |SELECT 'delete' AS op, o_custkey, o_orderkey AS old_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS old_date,
      |  o_totalprice AS old_price
      |FROM v1 WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |ORDER BY o_custkey""".stripMargin

  // ---------- q124: bucketed co-located join (shuffle-free SMJ) ----------

  /** Buckets per side. Both tables MUST agree for bucket-aligned
    * joins; at cluster scale this is sized so one bucket of the fact
    * table fits an executor's sort buffer (e.g. 4096 buckets for a
    * 100 TB fact → ~25 GB/bucket raw, less after pruning).
    */
  val bucketJoinBuckets = 8

  /** Writes both inputs bucketed+sorted by the join key into `work`
    * and returns the bucket-aligned join — factored so
    * BucketJoinSpec can pin the plan shape (SortMergeJoin, ZERO
    * Exchange) on the returned frame. Table names derive from `work`
    * so concurrent sessions sharing a warehouse never collide.
    */
  private[queries] def bucketedOrdersCustomer(
      spark: SparkSession, dir: String, work: String): DataFrame = {
    val suffix = java.lang.Long.toHexString(
      java.util.UUID.nameUUIDFromBytes(work.getBytes("UTF-8"))
        .getMostSignificantBits & Long.MaxValue)
    val (ot, ct) = (s"graft_bkt_orders_$suffix", s"graft_bkt_customer_$suffix")
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite")
      .bucketBy(bucketJoinBuckets, "o_custkey").sortBy("o_custkey")
      .option("path", s"$work/orders_b").saveAsTable(ot)
    Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment")
      .write.mode("overwrite")
      .bucketBy(bucketJoinBuckets, "c_custkey").sortBy("c_custkey")
      .option("path", s"$work/customer_b").saveAsTable(ct)
    // merge hint: the POINT is the shuffle-free sort-merge join —
    // without it the planner would broadcast the small test-scale
    // customer side and never exercise the bucket alignment that
    // carries the plan at 100 TB (where neither side broadcasts).
    spark.table(ot).join(
      spark.table(ct).hint("merge"),
      col("o_custkey") === col("c_custkey"))
  }

  /** Bucket-pruned co-located join — the lakehouse LAYOUT operator for
    * repeated fact⋈dim joins: both sides are written bucketed+sorted
    * by the join key once, and every subsequent join consumes the
    * bucket alignment instead of re-shuffling the fact table —
    * `spark.sql.sources.bucketing.enabled` turns each scan's bucket
    * files directly into join partitions, so the ONLY exchange in the
    * whole query is the final segment-sized rollup. The 100 TB story:
    * a nightly-joined fact table pays its shuffle once at write time,
    * not once per query; BucketJoinSpec pins the executed plan of the
    * join to SortMergeJoin with zero Exchange nodes.
    *
    * Result is deliberately the plain join semantics (revenue per
    * market segment, q10's DECIMAL(18,2) exactness recipe) — layout
    * must never change answers, which is exactly what the shared
    * oracle checks.
    */
  def q124_bucket_join(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q124-") { work =>
      bucketedOrdersCustomer(spark, dir, work)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
            .as("revenue"))
        .orderBy("c_mktsegment")
    }

  val q124_oracle: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------- q159: partition-spec evolution ----------

  /** Partition-spec evolution — the table-layout half of q97's schema
    * evolution (Iceberg's headline feature, reproduced on plain
    * parquet): an old generation written `partitionBy(day)` and a new
    * generation `partitionBy(day, source)` are read as ONE logical
    * table; a (day, source) predicate prunes DIRECTORIES on both
    * layouts — fully on gen2 (both keys are partition dirs), day-only
    * on gen1 (source there is a data column and falls back to a
    * pushed row-group filter). Queries never know which layout a row
    * came from; the oracle recomputes from the unsplit table (the
    * q90/q97 transparency rule). PartitionEvolutionSpec pins the
    * asymmetric pruning on the executed plans.
    *
    * Scale shape: the repartition-per-generation writes are the
    * one-time migration cost; every later read prunes at directory
    * granularity, so the scan cost follows the NEW spec for new data
    * without rewriting old data — the entire point of spec evolution.
    */
  def q159_partition_evolution(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q159-") { work =>
      val docs = Tables.load(spark, dir, "documents")
        .withColumn("day", (col("doc_id") % 7).cast("int"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.partitionBy("day").parquet(s"$work/gen1")
      docs.filter(col("doc_id") % 2 === 1)
        .write.partitionBy("day", "source").parquet(s"$work/gen2")
      spark.read.parquet(s"$work/gen1")
        .unionByName(spark.read.parquet(s"$work/gen2"))
        .filter(col("day") === 3 && col("source").isin("src1", "src2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy("source")
    }

  /** Both generations' read paths, for the spec's plan assertions. */
  private[queries] def partitionEvolutionPlans(
      spark: SparkSession, dir: String): (String, String) = {
    import org.apache.hadoop.fs.Path
    val work = graft.io.Scratch.dir(spark, "graft-q159p-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val docs = Tables.load(spark, dir, "documents")
        .withColumn("day", (col("doc_id") % 7).cast("int"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.partitionBy("day").parquet(s"$work/gen1")
      docs.filter(col("doc_id") % 2 === 1)
        .write.partitionBy("day", "source").parquet(s"$work/gen2")
      def plan(path: String): String =
        spark.read.parquet(path)
          .filter(col("day") === 3 && col("source").isin("src1", "src2"))
          .queryExecution.executedPlan.toString
      (plan(s"$work/gen1"), plan(s"$work/gen2"))
    } finally fs.delete(new Path(work), true)
  }

  val q159_oracle: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents
      |WHERE doc_id % 7 = 3 AND source IN ('src1', 'src2')
      |GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q159_partition_evolution" -> (q159_partition_evolution _),
    "q85_cdc_changelog" -> (q85_cdc_changelog _),
    "q90_layout_prune" -> (q90_layout_prune _),
    "q101_zorder" -> (q101_zorder _),
    "q115_version_diff" -> (q115_version_diff _),
    "q121_delete_feed" -> (q121_delete_feed _),
    "q124_bucket_join" -> (q124_bucket_join _))

  val oracles: Map[String, String] = Map(
    "q159_partition_evolution" -> q159_oracle,
    "q85_cdc_changelog" -> q85_oracle,
    "q90_layout_prune" -> q90_oracle,
    "q101_zorder" -> q101_oracle,
    // shared constant on purpose (see q115 scaladoc): O(delta) must
    // equal the two-snapshot diff
    "q115_version_diff" -> q85_oracle,
    "q121_delete_feed" -> q121_oracle,
    "q124_bucket_join" -> q124_oracle)
}
