package graft.queries

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** A corpus dir rewritten in place after a session artifact was built
  * from it must fail loudly, never serve the old corpus's answer.
  */
class StaleCorpusSpec extends SparkSpec {

  test("q25 over a documents table overwritten in place raises instead of serving stale pairs") {
    val dir = Files.createTempDirectory("graft-stale-corpus-").toString
    val docs = graft.Tables.load(spark, sf(), "documents")
    docs.filter(col("doc_id") < 300)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextQueries.q25_minhash_lsh_pairs(spark, dir).collect()
    docs.filter(col("doc_id") >= 300)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](
      TextQueries.q25_minhash_lsh_pairs(spark, dir).collect())
    assert(e.getMessage.contains("sigidx") && e.getMessage.contains(dir))
  }
}
