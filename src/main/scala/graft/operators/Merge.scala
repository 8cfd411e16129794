package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE-style upsert: apply a batch of source rows onto a target
  * snapshot by key — matched keys take the source row, unmatched
  * target rows survive, unmatched source rows are inserted. The
  * lakehouse MERGE INTO semantics (and the general form of the
  * reference's incremental consolidation, which is MERGE where
  * "matched" resolves by newest order column).
  *
  * Plan shape: one full-outer join co-partitioned on the key — at
  * 100 TB that is a single key shuffle of both sides, or no shuffle
  * at all when both are bucketed by the key; when the source batch is
  * small relative to the snapshot it broadcasts and the snapshot is
  * never shuffled. Row-level match resolution is a projection, not a
  * second pass.
  */
object Merge {

  /** Source-wins upsert. Target and source must share a schema.
    * A matched row takes every source column (including legitimate
    * source NULLs — matching is by a presence flag, not per-column
    * coalesce).
    *
    * '''Precondition''': each side must be unique per `keys`. SQL MERGE
    * errors when multiple source rows match one target row; a full-outer
    * join instead silently fans out (m×n rows per duplicated key). The
    * in-repo caller, q48, dedups both sides first with
    * [[Dedup.keepNewest]]. Pass `assertUniqueKeys = true` to
    * pay one aggregation per side and fail fast instead — off by
    * default because the check is a full shuffle of both inputs.
    *
    * Matching uses plain equality, the SQL MERGE convention: NULL-key
    * rows never match (they survive/insert as unmatched). Plain `=` is
    * also what lets the join reuse an upstream hashpartitioning on the
    * key — a null-safe `<=>` rewrites the join key to
    * (coalesce(k), isnull(k)) and forces both sides to re-shuffle.
    */
  def upsert(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      assertUniqueKeys: Boolean = false): DataFrame = {
    require(target.columns.sameElements(source.columns),
      s"schema mismatch: ${target.columns.mkString(",")} vs ${source.columns.mkString(",")}")
    require(!target.columns.contains("_from_source"),
      "column name _from_source is reserved by Merge.upsert")
    import Quoting.{qcol, ref}
    if (assertUniqueKeys) {
      require(!target.columns.contains("__merge_cnt"),
        "column name __merge_cnt is reserved by Merge.upsert(assertUniqueKeys)")
      def check(df: DataFrame, side: String): Unit = {
        // aliased aggregate, not .count(): a key column named "count"
        // would make the bare col("count") reference ambiguous
        val dup = df.groupBy(keys.map(qcol): _*)
          .agg(count(lit(1)).as("__merge_cnt"))
          .filter(col("__merge_cnt") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"$side has multiple rows for key ${dup.head.toSeq.init.mkString(",")} — " +
            "MERGE requires unique keys per side (dedup first)")
      }
      check(target, "target"); check(source, "source")
    }
    val t = target.alias("t")
    val s = source.select(
      source.columns.toSeq.map(qcol) :+ lit(true).as("_from_source"): _*)
      .alias("s")
    val cond = keys.map(k => ref("t", k) === ref("s", k)).reduce(_ && _)
    val merged = t.join(s, cond, "full_outer")
    val outCols = target.columns.map { c =>
      if (keys.contains(c)) coalesce(ref("s", c), ref("t", c)).as(c)
      else when(col("_from_source"), ref("s", c)).otherwise(ref("t", c)).as(c)
    }
    merged.select(outCols.toSeq: _*)
  }
}
