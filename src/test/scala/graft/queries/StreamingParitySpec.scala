package graft.queries

import graft.SparkSpec

/** q74/q75 batch-equivalence: the REAL streaming operators (watermarked
  * tumbling agg; flatMapGroupsWithState sessionize), fed file-per-batch,
  * must emit exactly the batch twins' rows. The driver gates these with
  * DuckDB at sf0.01; here we pin them against the in-Spark batch twins
  * at sf0.001 so `sbt test` catches drift without the oracle. q250 and
  * q260 (the snapshot-fold legs) are pinned on planted fixtures.
  */
class StreamingParitySpec extends SparkSpec {

  test("q74 streaming tumbling counts == batch q17") {
    val streamed = StreamingParity.q74_stream_tumbling(spark, sf()).collect().toSet
    val batch = Analytics.q17_events_tumbling(spark, sf()).collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q75 streaming sessionize == batch q18 boundaries") {
    val streamed = StreamingParity.q75_stream_sessionize(spark, sf()).collect().toSet
    // q18 minus session_value (stream sums doubles in event order; boundary
    // and count parity is the sessionization semantics — see q75 scaladoc).
    val batch = Analytics.q18_sessionize(spark, sf())
      .select("user_id", "session_id", "n_events", "session_start", "session_end")
      .collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q250: streamed per-user counts equal the batch top-K on a fixture corpus") {
    withTempDir("q250") { tmp =>
      val dir = tmp.toString
      import spark.implicits._
      // user 1: 3 events, user 2: 2, user 3: 1 — split across the
      // harness's ts cutoff (2024-01-15) so both micro-batches carry rows
      val rows = Seq(
        (1L, "2024-01-10 00:00:00", 1L), (2L, "2024-01-10 01:00:00", 1L),
        (3L, "2024-01-20 00:00:00", 1L),
        (4L, "2024-01-10 02:00:00", 2L), (5L, "2024-01-20 01:00:00", 2L),
        (6L, "2024-01-20 02:00:00", 3L))
      rows.map { case (i, t, u) =>
        (i, java.sql.Timestamp.valueOf(t), u, "view", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = StreamingParity.q250_stream_topk(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq === Seq((1L, 3L), (2L, 2L), (3L, 1L)), got.mkString(";"))
    }
  }

  test("q260: late upsert replaces state, dormant key deletes, live key survives") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    withTempDir("q260") { tmp =>
      val dir = tmp.toString
      import spark.implicits._
      Seq(
        // cust 1: batch-0 state replaced by a batch-1 upsert
        (10L, 1L, "O", 10.0, ts("1995-01-01"), "1-URGENT"),
        (11L, 1L, "O", 20.0, ts("1997-08-01"), "1-URGENT"),
        // cust 2: dormant (last order before 1996-07-01) -> tombstoned
        (20L, 2L, "O", 30.0, ts("1995-06-01"), "1-URGENT"),
        // cust 3: recent enough to live, no upsert
        (30L, 3L, "O", 40.0, ts("1996-12-01"), "1-URGENT"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val got = StreamingParity.q260_stream_cdc(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      assert(got.toSeq === Seq(
        (1L, 11L, "1997-08-01", 20.0),
        (3L, 30L, "1996-12-01", 40.0)), got.mkString(";"))
    }
  }
}
