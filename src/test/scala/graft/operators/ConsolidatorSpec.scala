package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.meta.{ConsolidationDef, DedupDef}

class ConsolidatorSpec extends SparkSpec {

  test("a zero-row snapshot plus one batch consolidates like the batch alone") {
    withTempDir("graft-consolidator") { tmp =>
      val s = spark
      import s.implicits._
      val root = tmp.toString
      val batch = Seq(
        ("k1", "2025-03-01", 1L), ("k1", "2025-03-01", 2L), ("k2", "2025-03-01", 3L))
        .toDF("key", "batch_date", "id")
      batch.write.parquet(s"$root/batch-2025-03-01")
      batch.limit(0).write.parquet(s"$root/snapshot")
      def cfg(out: String) = ConsolidationDef(enabled = true, s"$root/batch-*", out,
        DedupDef(enabled = true, "key", "batch_date", "DESC", Some("id")))
      def rows(r: Consolidator.Result) =
        r.df.as[(String, String, Long)].collect().sorted.toSeq

      val onEmpty = Consolidator.consolidateFromPaths(spark, cfg(s"$root/snapshot"), "parquet", "id")
      val full = Consolidator.consolidateFromPaths(spark, cfg(s"$root/none"), "parquet", "id")
      assert(onEmpty.mode === "incremental" && full.mode === "full")
      assert(rows(onEmpty) === rows(full))
      assert(rows(full) === Seq(("k1", "2025-03-01", 2L), ("k2", "2025-03-01", 3L)))
    }
  }
}
