package graft.queries

import java.sql.Timestamp

import graft.Tables
import graft.streaming.EventsStreaming
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

/** Batch-equivalence harness entries for the two stateful streaming
  * operators (q74/q75) — the same pattern q71 established for the
  * consolidation sink: stage the input as files, stream them through
  * the REAL streaming operator one file per micro-batch, and gate the
  * final output with the batch query's DuckDB oracle. Streaming
  * aggregation and flatMapGroupsWithState sessionization become
  * driver-visible rows/schema/hash checks instead of spec-only paths.
  *
  * Both stage the event batches in timestamp order (split at a fixed
  * cutoff), which is the arrival pattern watermarks assume; the
  * splits' contents still interleave freely per key within a batch.
  * A trailing sentinel batch plays the role "one more event arrives"
  * has in production: it advances the watermark past every real
  * window (q74) and past every open session gap (q75), so the
  * streams' final emitted state covers exactly the batch answer.
  * Sentinels themselves stay open/unclosed and are never emitted.
  */
object StreamingParity {

  private val cutoff = "2024-01-15 00:00:00" // mid-corpus: both splits non-empty

  /** All batch files the three replay harnesses need, prebuilt ONCE
    * per corpus dir (session-lifetime memo, same lifecycle as the LSH
    * SigIndex): the ts-split halves, q88's redelivery batch, and both
    * sentinel batches. The per-query staging then degenerates to pure
    * filesystem copies — no Spark job per batch per query — which is
    * what made q74's wall time a harness-I/O lottery (5.6/7.3/13.8 s
    * across three runs of identical operator code).
    */
  private object StagedSplits {
    private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

    def path(spark: SparkSession, dir: String): String =
      built.computeIfAbsent(dir, _ => {
        val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-evsplit-")
        val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val events = eventCols(spark, dir)
        val cutoffTs = lit(cutoff).cast("timestamp")
        val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
        def sentinel(offsetMs: Long, users: DataFrame) = users.select(
          lit(-1L).as("event_id"),
          lit(new Timestamp(maxTs.getTime + offsetMs)).as("ts"),
          col("user_id"),
          lit("__sentinel__").as("event_type"),
          lit(0.0).as("value"))
        val b0 = events.filter(col("ts") < cutoffTs)
        val b1 = events.filter(col("ts") >= cutoffTs)
        // q88's at-least-once batch: the post-cutoff events PLUS the
        // redelivered pre-cutoff tail in the SAME file — the
        // redelivery must share its micro-batch with the new data or
        // the advanced watermark would drop it as late instead of the
        // dedup state matching it
        val redelivered = b0.filter(col("ts") >= cutoffTs - expr("INTERVAL 1 HOUR"))
        Seq(
          "b0" -> b0,
          "b1" -> b1,
          "b1_redelivered" -> b1.unionAll(redelivered),
          "sent_tumbling" -> sentinel(4 * 3600 * 1000L,
            spark.range(1).select(lit(-1L).as("user_id"))),
          "sent_sessions" -> sentinel(3600 * 1000L,
            events.select(col("user_id")).distinct()))
          .foreach { case (name, df) =>
            df.coalesce(1).write.parquet(s"$work/$name")
            val part = fs.globStatus(new Path(s"$work/$name/part-*.parquet")).head.getPath
            require(fs.rename(part, new Path(s"$work/$name.parquet")),
              s"failed to finalize staged split $name")
            fs.delete(new Path(s"$work/$name"), true)
          }
        work
      })
  }

  /** Stage prebuilt batch files into watchDir with strictly increasing
    * modification times — the file source picks files up oldest-first,
    * so arrival order is deterministic. Pure FS copies of the
    * session's [[StagedSplits]]; no Spark job runs here.
    */
  private def stageBatches(
      spark: SparkSession, dir: String,
      fs: FileSystem, watchDir: String,
      batches: Seq[String]): Unit = {
    val splits = StagedSplits.path(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    fs.mkdirs(new Path(watchDir))
    val t0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (name, i) =>
      val staged = new Path(s"$watchDir/b$i.parquet")
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new Path(s"$splits/$name.parquet"), fs, staged, false, conf)
      fs.setTimes(staged, t0 + i * 1000L, -1)
    }
  }

  private def eventCols(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  // ---------- q74: streaming tumbling-window agg ≡ batch q17 ----------

  /** Watermarked Append-mode windowed aggregation, gated by q17's
    * oracle. The sentinel event sits 4 h past the corpus max, so the
    * 2 h watermark ends above every real window's end and Append mode
    * finalizes them all; the ts-ordered staging keeps every real row
    * above the watermark (batch 1 starts at the cutoff, which is past
    * batch 0's max minus 2 h), so nothing is dropped as late. This is
    * the strict-mode check — Complete mode would bypass watermark
    * semantics entirely.
    */
  def q74_stream_tumbling(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-q74-")
    val watchDir = s"$work/incoming"
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageBatches(spark, dir, fs, watchDir,
        Seq("b0", "b1", "sent_tumbling"))
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      CurationFlow.withStreamShufflePartitions(spark) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(watchDir)
        val query = EventsStreaming.tumblingCounts(stream)
          .writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$work/out")
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        query.awaitTermination()
      }
      spark.read.parquet(s"$work/out")
        .filter(col("event_type") =!= "__sentinel__") // open forever; defensive
        .select(
          date_format(col("hour_start"), "yyyy-MM-dd HH:mm").as("hour_start"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("hour_start", "event_type")
        .localCheckpoint() // materialize before the work dir is deleted
    } finally fs.delete(new Path(work), true)
  }

  val q74_oracle: String = Analytics.q17_oracle

  // ---------- q75: streaming sessionization ≡ batch q18 ----------

  /** flatMapGroupsWithState sessionization, gated by q18's session
    * boundaries: one sentinel per user 1 h past the corpus max (> the
    * 30 min gap from any last event) closes every open session, so
    * the stream's emitted sessions are exactly the batch sessions.
    * session_id is recovered as the per-user rank by start time —
    * identical to q18's running break count. session_value is omitted
    * on purpose: the stream sums raw doubles in event order while the
    * batch sums decimal(18,2) — boundary and count parity is the
    * sessionization semantics; summing is q17/q18's job.
    */
  def q75_stream_sessionize(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-q75-")
    val watchDir = s"$work/incoming"
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageBatches(spark, dir, fs, watchDir,
        Seq("b0", "b1", "sent_sessions"))
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      CurationFlow.withStreamShufflePartitions(spark) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(watchDir)
          .as[EventsStreaming.Event](org.apache.spark.sql.Encoders.product)
        val query = EventsStreaming
          .sessionize(spark, stream, GroupStateTimeout.NoTimeout)
          .toDF()
          .writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$work/out")
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        query.awaitTermination()
      }
      val byStart = Window.partitionBy("user_id").orderBy("session_start")
      spark.read.parquet(s"$work/out")
        .withColumn("session_id", row_number().over(byStart).cast("long"))
        .select(
          col("user_id"), col("session_id"),
          col("n_events").cast("long").as("n_events"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"))
        .orderBy("user_id", "session_id")
        .localCheckpoint()
    } finally fs.delete(new Path(work), true)
  }

  /** q18's session derivation with the value column dropped (see
    * [[q75_stream_sessionize]] for why).
    */
  val q75_oracle: String =
    """SELECT user_id, session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
      |FROM (
      |  SELECT *, CAST(sum(is_break) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT *, CASE WHEN prev_ts IS NULL
      |        OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS is_break
      |    FROM (
      |      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |      FROM events)))
      |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  // ---------- q88: streaming exact dedup under at-least-once delivery ----------

  /** `dropDuplicatesWithinWatermark` gated against the batch corpus —
    * the streaming twin of exact dedup q23, driven under the failure
    * mode it exists for: AT-LEAST-ONCE redelivery. Batch 1 re-delivers
    * the tail of batch 0 (every event in the hour before the cutoff —
    * exactly the rows a retried upstream write would duplicate), and
    * the operator must emit every source event exactly once.
    *
    * The redelivered window (1 h) sits inside the 2 h dedup watermark
    * by construction, so the duplicate drop is GUARANTEED by state
    * matching, not by late-row filtering: after batch 0 the watermark
    * is max(b0.ts) − 2 h, which is both below the redelivered rows'
    * event times (they are not late) and early enough that their
    * dedup state is still live (state expires at ts + 2 h). The
    * oracle is the whole events table — unlike q74/q75 no sentinel is
    * needed because dedup is a stateful FILTER: rows emit on arrival,
    * nothing waits for the watermark to close.
    *
    * Scale shape: state is bounded by the watermark window (2 h of
    * event ids), not the stream; at 100 TB/day this is the only
    * streaming-dedup posture that survives — an unbounded
    * dropDuplicates grows state forever.
    */
  def q88_stream_dedup(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-q88-")
    val watchDir = s"$work/incoming"
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageBatches(spark, dir, fs, watchDir,
        Seq("b0", "b1_redelivered"))
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      CurationFlow.withStreamShufflePartitions(spark) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(watchDir)
        val query = stream
          .withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$work/out")
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        query.awaitTermination()
      }
      spark.read.parquet(s"$work/out")
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
        .localCheckpoint() // materialize before the work dir is deleted
    } finally fs.delete(new Path(work), true)
  }

  /** Every source event exactly once — redeliveries invisible. */
  val q88_oracle: String =
    """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
      |  user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  // ---------- q102: stream-stream interval join ≡ batch join ----------

  /** STREAM-STREAM inner join driver-gated — the last Structured
    * Streaming operator family the suite exercises (q74 covered
    * stateful aggregation, q75 arbitrary state, q88 stateful
    * filtering; this is two-sided join state): each click joins every
    * view by the same user in the preceding hour — the attribution
    * join — with BOTH sides watermarked at 2 h and the interval
    * condition `v_ts ∈ [c_ts − 1 h, c_ts]` bounding join state.
    *
    * Why no match can be lost to state eviction: batches arrive in ts
    * order, so when batch 1's clicks (ts ≥ cutoff) are processed the
    * watermark is max(b0) − 2 h ≈ cutoff − 2 h, and Spark only evicts
    * view state older than watermark − 1 h (the condition's lower
    * bound) = cutoff − 3 h — strictly below the oldest view any
    * batch-1 click can reach (cutoff − 1 h). Inner-join rows emit as
    * soon as both sides have arrived, so no sentinel is needed.
    *
    * Scale shape: join state is bounded by the watermark + interval
    * (3 h of views, 2 h of clicks per user), never the stream; the
    * oracle is the plain batch interval join over the whole events
    * table — streaming and batch must agree row for row.
    */
  def q102_stream_join(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-q102-")
    val watchDir = s"$work/incoming"
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageBatches(spark, dir, fs, watchDir, Seq("b0", "b1"))
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      CurationFlow.withStreamShufflePartitions(spark) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(watchDir)
        val views = stream.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
            col("user_id").as("v_user"))
          .withWatermark("view_ts", "2 hours")
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
            col("user_id").as("user_id"))
          .withWatermark("click_ts", "2 hours")
        val query = views.join(clicks,
            expr("""v_user = user_id AND
                    view_ts <= click_ts AND
                    view_ts >= click_ts - INTERVAL 1 HOUR"""))
          .select("click_id", "view_id", "user_id", "view_ts", "click_ts")
          .writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$work/out")
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        query.awaitTermination()
      }
      spark.read.parquet(s"$work/out")
        .select(col("click_id"), col("view_id"), col("user_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"))
        .orderBy("click_id", "view_id")
        .localCheckpoint() // materialize before the work dir is deleted
    } finally fs.delete(new Path(work), true)
  }

  /** The batch attribution join — streaming must reproduce it exactly. */
  val q102_oracle: String =
    """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
      |  strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
      |FROM events v JOIN events c
      |  ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
      |ORDER BY click_id, view_id""".stripMargin

  // ---------- q161: STREAMING incremental decay-score maintenance ----------

  /** q135's "incrementally maintainable because the anchor is pinned"
    * claim, made REAL and driver-gated: the event stream replays
    * file-per-micro-batch through a foreachBatch sink that runs
    * q135's exact aggregation arithmetic on EACH batch alone and
    * merges the partial into a persisted per-user state table by pure
    * ADDITION (all three columns are sums over fixed-anchor weights —
    * no history rescan, no re-weighting, state is user-sized). The
    * final snapshot is checked against q135's own batch oracle:
    * incremental ≡ rescan, the q94/q107/q115 rule applied to the
    * feature-store score.
    *
    * State versions write to fresh dirs (state_b0, state_b1, …) — the
    * merge never overwrites a dir it is reading, the same
    * crash-safe-publish discipline as io/Versioned.
    */
  def q161_stream_decay(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-q161-")
    val watchDir = s"$work/incoming"
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageBatches(spark, dir, fs, watchDir, Seq("b0", "b1"))
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
      CurationFlow.withStreamShufflePartitions(spark) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(watchDir)
        val query = stream.writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val partial = EventQueries.decayAggregate(batch)
            val merged = Option(latest.get()) match {
              case Some(prev) =>
                spark.read.parquet(prev).unionByName(partial)
                  .groupBy("user_id")
                  .agg(sum(col("n_purchases")).cast("long").as("n_purchases"),
                    sum(col("cents_sum")).cast("long").as("cents_sum"),
                    sum(col("decay_micro")).cast("long").as("decay_micro"))
              case None => partial
            }
            val out = s"$work/state_b$id"
            merged.write.mode("overwrite").parquet(out)
            latest.set(out)
            ()
          }
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        query.awaitTermination()
      }
      spark.read.parquet(latest.get())
        .orderBy("user_id")
        .localCheckpoint() // materialize before the work dir is deleted
    } finally fs.delete(new Path(work), true)
  }

  /** Shared constant on purpose: the incremental stream must be
    * indistinguishable from q135's one-shot batch aggregate. */
  val q161_oracle: String = EventQueries.q135_oracle

  // ---------- q179: STREAMING drift monitor (incremental KS state) ----------

  /** q141's exact KS drift as a STREAMING monitor, driver-gated (the
    * q161 pattern applied to distribution monitoring): each
    * micro-batch folds into the persisted (event_type, cents, ca, cb)
    * count state by pure ADDITION — the value-axis domain is bounded,
    * so the state is bin-sized no matter how many events streamed —
    * and the exact KS statistic is computed from the final state with
    * the SAME tail q141 uses (shared function, not shared idea).
    * Oracle = q141's verbatim: the monitor must be indistinguishable
    * from the one-shot scan.
    */
  def q179_stream_drift(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-q179-")
    val watchDir = s"$work/incoming"
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageBatches(spark, dir, fs, watchDir, Seq("b0", "b1"))
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
      CurationFlow.withStreamShufflePartitions(spark) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(watchDir)
        val query = stream.writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val partial = DistributionQueries.ksCounts(batch)
            val merged = Option(latest.get()) match {
              case Some(prev) =>
                spark.read.parquet(prev).unionByName(partial)
                  .groupBy("event_type", "cents")
                  .agg(sum(col("ca")).cast("long").as("ca"),
                    sum(col("cb")).cast("long").as("cb"))
              case None => partial
            }
            val out = s"$work/state_b$id"
            merged.write.mode("overwrite").parquet(out)
            latest.set(out)
            ()
          }
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        query.awaitTermination()
      }
      DistributionQueries.ksFromCounts(spark.read.parquet(latest.get()))
        .localCheckpoint() // materialize before the work dir is deleted
    } finally fs.delete(new Path(work), true)
  }

  /** Shared constant on purpose: incremental ≡ one-shot scan. */
  val q179_oracle: String = DistributionQueries.oracles("q141_ks_drift")

  // ---------- q250: streaming top-K ≡ batch top-K ----------

  /** Report size. */
  val topkK = 20

  /** Streaming top-K heaviest users, gated by the batch answer: each
    * micro-batch folds into a persisted per-user count state via
    * foreachBatch (counts are ALGEBRAIC — the state is entity-sized,
    * |users| rows, never event-sized; this is the exact-state regime.
    * Misra–Gries state is the fallback only when even |entities| is
    * too big — q209's story); the report is TakeOrdered over the
    * final state with user_id tie-break. The oracle is the one-shot
    * batch top-K verbatim: replay ≡ rescan.
    */
  def q250_stream_topk(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-q250-")
    val watchDir = s"$work/incoming"
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageBatches(spark, dir, fs, watchDir, Seq("b0", "b1"))
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
      CurationFlow.withStreamShufflePartitions(spark) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(watchDir)
        val query = stream.writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val partial = batch.groupBy("user_id")
              .agg(count(lit(1)).cast("long").as("n_events"))
            val merged = Option(latest.get()) match {
              case Some(prev) =>
                spark.read.parquet(prev).unionByName(partial)
                  .groupBy("user_id")
                  .agg(sum(col("n_events")).cast("long").as("n_events"))
              case None => partial
            }
            val out = s"$work/state_b$id"
            merged.write.mode("overwrite").parquet(out)
            latest.set(out)
            ()
          }
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        query.awaitTermination()
      }
      spark.read.parquet(latest.get())
        .orderBy(col("n_events").desc, col("user_id"))
        .limit(topkK)
        .localCheckpoint() // materialize before the work dir is deleted
    } finally fs.delete(new Path(work), true)
  }

  val q250_oracle: String =
    s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
       |FROM events GROUP BY user_id
       |ORDER BY n_events DESC, user_id LIMIT $topkK""".stripMargin

  // ---------- q260: streaming CDC apply (upserts + deletes) ≡ batch ----------

  /** CDC stream boundaries: batch-0/batch-1 split, the dormancy rule
    * that generates deletes, and the tombstone's synthetic timestamp
    * (later than every real order — a delete always wins keep-newest
    * against the state it erases). */
  val cdcSplitTs = "1997-07-01 00:00:00"
  val cdcDormantTs = "1996-07-01 00:00:00"
  val cdcTombTs = "1999-01-01 00:00:00"

  /** Streaming CDC APPLY with deletes — the leg q71's upsert-only
    * parity leaves open: batch 0 is the initial per-customer load,
    * batch 1 carries the late upserts PLUS the erasure feed (dormant
    * customers, shipped as TOMBSTONES: null payload, a timestamp past
    * every real order). Each micro-batch folds into persisted state by
    * the SAME keep-newest merge the batch pipeline uses (q06's
    * operator — a tombstone is just a row that wins), and the read
    * drops tombstone winners. Delete-through-merge means NO separate
    * delete code path exists to drift from the batch semantics; the
    * oracle is the declarative "newest order per non-dormant customer"
    * over the full table.
    *
    * Scale shape: state is entity-sized (one row per live customer);
    * each refresh shuffles |state| + |batch| on the key — q250's
    * exact-state regime with deletes riding the same merge.
    */
  def q260_stream_cdc(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val work = graft.io.Scratch.dirAutoCleaned(spark, "graft-q260-")
    val watchDir = s"$work/incoming"
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val orders = Tables.load(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
      val cut = to_timestamp(lit(cdcSplitTs))
      fs.mkdirs(new Path(watchDir))
      // stage each batch as ONE plain file (the file source lists
      // files, not directories) with strictly increasing mtimes —
      // StagedSplits' recipe
      def stage(name: String, df: DataFrame, mtime: Long): Unit = {
        df.coalesce(1).write.parquet(s"$work/$name")
        val part = fs.globStatus(new Path(s"$work/$name/part-*.parquet")).head.getPath
        val target = new Path(s"$watchDir/$name.parquet")
        require(fs.rename(part, target), s"failed to stage $name")
        fs.delete(new Path(s"$work/$name"), true)
        fs.setTimes(target, mtime, -1)
      }
      val tombstones = Tables.load(spark, dir, "orders")
        .groupBy("o_custkey")
        .agg(max(col("o_orderdate")).as("last_ts"))
        .filter(col("last_ts") < to_timestamp(lit(cdcDormantTs)))
        .select(col("o_custkey"),
          lit(null).cast("long").as("o_orderkey"),
          to_timestamp(lit(cdcTombTs)).as("o_orderdate"),
          lit(null).cast("double").as("o_totalprice"))
      val t0 = System.currentTimeMillis()
      stage("b0", orders.filter(col("o_orderdate") < cut), t0)
      stage("b1",
        orders.filter(col("o_orderdate") >= cut).unionByName(tombstones),
        t0 + 1000L)
      val schema = spark.read.parquet(s"$watchDir/b0.parquet").schema
      val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
      CurationFlow.withStreamShufflePartitions(spark) {
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(watchDir)
          .writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val merged = Option(latest.get()) match {
              case Some(prev) =>
                spark.read.parquet(prev).unionByName(batch)
              case None => batch
            }
            val state = Dedup.keepNewest(merged, key = col("o_custkey"),
              orderBy = col("o_orderdate"), tieBreaker = col("o_orderkey"))
            val out = s"$work/state_b$id"
            state.write.mode("overwrite").parquet(out)
            latest.set(out)
            ()
          }
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        query.awaitTermination()
      }
      spark.read.parquet(latest.get())
        .filter(col("o_orderkey").isNotNull) // tombstone winners = deleted
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_order_date"),
          col("o_totalprice"))
        .orderBy("o_custkey")
        .localCheckpoint() // materialize before the work dir is deleted
    } finally fs.delete(new Path(work), true)
  }

  val q260_oracle: String =
    s"""WITH dormant AS (
       |  SELECT o_custkey FROM orders GROUP BY 1
       |  HAVING max(o_orderdate) < TIMESTAMP '$cdcDormantTs'),
       |win AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |  FROM orders)
       |SELECT o_custkey, o_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS latest_order_date, o_totalprice
       |FROM win
       |WHERE rn = 1 AND o_custkey NOT IN (SELECT o_custkey FROM dormant)
       |ORDER BY o_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q260_stream_cdc" -> (q260_stream_cdc _),
    "q250_stream_topk" -> (q250_stream_topk _),
    "q179_stream_drift" -> (q179_stream_drift _),
    "q161_stream_decay" -> (q161_stream_decay _),
    "q74_stream_tumbling" -> (q74_stream_tumbling _),
    "q75_stream_sessionize" -> (q75_stream_sessionize _),
    "q88_stream_dedup" -> (q88_stream_dedup _),
    "q102_stream_join" -> (q102_stream_join _))

  val oracles: Map[String, String] = Map(
    "q260_stream_cdc" -> q260_oracle,
    "q250_stream_topk" -> q250_oracle,
    "q179_stream_drift" -> q179_oracle,
    "q161_stream_decay" -> q161_oracle,
    "q74_stream_tumbling" -> q74_oracle,
    "q75_stream_sessionize" -> q75_oracle,
    "q88_stream_dedup" -> q88_oracle,
    "q102_stream_join" -> q102_oracle)
}
