package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16 operator pins: the PQ append leg must be the CORRECT
  * merge (frozen-model batch encode + file append ≡ single-shot
  * rebuild under the same models, exceptAll both ways, with both code
  * partitions genuinely populated) — the last open cell in the
  * 4-family × 4-operation index-lifecycle matrix.
  */
class Round16OpsSpec extends SparkSpec {

  // ---------- q296 ----------

  test("q296: merged PQ search (frozen-model append) equals the single-shot rebuild; both code partitions non-empty") {
    import org.apache.hadoop.fs.Path
    val dir = sf("sf0.001")
    // run the flow against an inspectable work dir so the stored code
    // table can be audited before cleanup
    val work = graft.io.Scratch.dir(spark, "graft-q296spec-")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val merged = VectorQueries.pqUpdateFlow(spark, dir, work).localCheckpoint()
      val rebuilt = VectorQueries.pqUpdateRebuilt(spark, dir)
      assert(merged.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(merged).isEmpty,
        "frozen-model append diverged from the single-shot rebuild")
      assert(merged.count() > 0L)
      // append really happened: the merged code table carries BOTH the
      // base build and the appended batch
      val codes = spark.read.parquet(s"$work/codes")
      val nBase = codes.filter(!VectorQueries.pqIsBatch(col("n_id"))).count()
      val nBatch = codes.filter(VectorQueries.pqIsBatch(col("n_id"))).count()
      assert(nBase > 0L && nBatch > 0L,
        s"degenerate ingest split: base=$nBase batch=$nBatch")
      assert(codes.count() === nBase + nBatch)
    } finally fs.delete(new Path(work), true)
  }
}
