package graft.plans

import java.sql.{Date, Timestamp}

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

class BatchConstantSpec extends SparkSpec {

  test("batch_constant returns its child's value, in generated code too") {
    val df = spark.range(3).select(
      call_function("batch_constant", lit("2025-03-01").cast("date")).as("d"),
      call_function("batch_constant", lit(7L)).as("n"),
      call_function("batch_constant", lit("run-1")).as("s"),
      call_function("batch_constant", lit(null).cast("string")).as("z"),
      (col("id") + call_function("batch_constant", lit(10L))).as("sum"))
    assert(df.collect().toSeq.map(_.toSeq) === (0 until 3).map(i =>
      Seq(Date.valueOf("2025-03-01"), 7L, "run-1", null, 10L + i)))
  }

  test("current_timestamp under batch_constant is one value per query") {
    val t0 = new Timestamp(System.currentTimeMillis() - 1)
    val ts = spark.range(0, 100, 1, 4)
      .select(call_function("batch_constant", current_timestamp()).as("t"))
      .distinct().collect().map(_.getTimestamp(0))
    assert(ts.length === 1 && !ts.head.before(t0))
  }

  test("a non-foldable child is rejected at analysis") {
    val e = intercept[AnalysisException] {
      spark.range(1).select(call_function("batch_constant", col("id")))
    }
    assert(e.getCondition === "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT")
  }
}
