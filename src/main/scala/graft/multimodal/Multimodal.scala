package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2 #31).
  *
  * Design: media payloads are opaque `binary` columns carried next to
  * a typed metadata struct; decode/feature-extract runs per-partition
  * over iterator batches so a real decoder (JNI image lib, ffmpeg
  * subprocess, ONNX runtime) amortizes init per partition, not per
  * row. The decoders themselves are STUBBED with deterministic fakes
  * (no media libs in this environment — the stub boundary is
  * [[StubDecoders]]); schema, partitioning, batch shape, and the
  * expression-level metadata path are real.
  */
object Multimodal extends graft.QueryFamily {

  /** Typed record for the partition-level decode path. */
  final case class MediaRecord(doc_id: Long, payload: Array[Byte], mime: String)
  final case class DecodedRecord(
      doc_id: Long, n_bytes: Int, width: Int, height: Int, feature0: Double)

  /** STUB — stands in for a real image decoder. Deterministic on the
    * payload bytes so tests and the oracle can verify the plumbing.
    */
  object StubDecoders {
    def decodeImage(payload: Array[Byte]): (Int, Int, Double) = {
      val n = payload.length
      // fake "dimensions" and a fake first feature derived from content
      val w = 64 + (n % 64)
      val h = 64 + ((n / 64) % 64)
      val f0 = payload.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000003L).toDouble / 1000003.0
      (w, h, f0)
    }
  }

  /** Build a media table from `documents`: the text bytes stand in for
    * an image payload; metadata travels as a typed struct column.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(
          lit("image/fake").as("mime"),
          col("source").as("origin"),
          col("n_chars").as("declared_size")).as("media_meta"))

  /** Partition-level decode: one `mapPartitions` pass, decoder state
    * initialized once per partition. This is the pattern a real
    * decoder plugs into; only StubDecoders.decodeImage is fake.
    */
  def decodeImages(spark: SparkSession, media: DataFrame): Dataset[DecodedRecord] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"), col("media_meta.mime").as("mime"))
      .as[MediaRecord]
      .mapPartitions { it =>
        // per-partition decoder init would go here
        it.map { r =>
          val (w, h, f0) = StubDecoders.decodeImage(r.payload)
          DecodedRecord(r.doc_id, r.payload.length, w, h, f0)
        }
      }
  }

  /** Oracle-checkable metadata-extraction query: everything here is
    * expression-level (octet_length, metadata fields, content hash) —
    * the decode stub itself is validated by MultimodalSpec instead,
    * since a fake decoder has no meaningful SQL oracle.
    */
  def q31_multimodal_extract(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        col("media_meta.mime").as("mime"),
        col("media_meta.origin").as("origin"),
        col("media_meta.declared_size").as("declared_size"),
        md5(col("payload")).as("payload_md5"),
        (lit(64) + pmod(length(col("payload")), lit(64))).as("stub_width"),
        (lit(64) + pmod(floor(length(col("payload")) / lit(64)).cast("long"), lit(64))).as("stub_height"))
      .orderBy("doc_id")

  val q31_oracle: String =
    """SELECT doc_id,
      |  octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  'image/fake' AS mime,
      |  source AS origin,
      |  n_chars AS declared_size,
      |  md5(text) AS payload_md5,
      |  64 + octet_length(CAST(text AS BLOB)) % 64 AS stub_width,
      |  64 + CAST(floor(octet_length(CAST(text AS BLOB)) / 64) AS BIGINT) % 64 AS stub_height
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- q89: frame-sampling manifest ----------

  /** Chars per fake "frame" — stands in for a decoded frame's byte
    * extent in the payload.
    */
  val frameLen = 128
  /** Sample every 4th frame — the fixed-stride policy a video
    * pipeline uses when full decode is too expensive.
    */
  val frameStride = 4

  /** Video-style frame sampling over the opaque payload: each
    * document's payload is treated as `n_frames` fixed-extent frames,
    * a fixed-stride subset is selected, and each sampled frame emits
    * one manifest row with a content hash of its extent — the
    * (doc, frame) → extent/hash manifest a frame-decode fleet
    * consumes, produced without decoding anything. The real decoder
    * plugs into [[decodeImages]]'s `mapPartitions` path per manifest
    * row; this query is the planning half that must stay declarative.
    *
    * Scale shape: a narrow scan with a bounded explode — fan-out is
    * n_frames/stride per doc (≈ payload_bytes / (frameLen·stride)),
    * proportional to input size like any decode manifest; no shuffle
    * at all until the final presentation sort.
    */
  def q89_frame_sample(spark: SparkSession, dir: String): DataFrame =
    frameManifestOf(Tables.load(spark, dir, "documents"))
      .orderBy("doc_id", "frame_idx")

  /** q89's manifest as a function of a documents batch — shared by
    * the batch query and [[q335_stream_media_manifest]]'s per-micro-
    * batch ingest. A document's frame rows are a pure per-row
    * function of its own payload (no cross-document state), so
    * per-batch append IS the correct merge — q317's self-contained-
    * rows argument at the media boundary.
    */
  def frameManifestOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        expr(s"(length(text) + ${frameLen - 1}) div $frameLen")
          .cast("long").as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"), col("text"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(frameStride.toLong)))
          .as("frame_idx"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        md5(expr(s"substring(text, cast(frame_idx * $frameLen + 1 as int), $frameLen)"))
          .as("frame_md5"))

  /** q335: the multimodal decode WORK-LIST as a STREAM — the index-
    * family ingest pattern (q317/q309/q316/q320/q321) applied to the
    * media boundary, the first movement of this family since the
    * decode/manifest split landed. Media arrives as micro-batches
    * (each staged file is one trigger — the binaryFile-ingest shape
    * where a landing zone is drained file by file); each batch's
    * frame-sample manifest (q89's planning half) lands batchId-keyed
    * through [[graft.io.BatchLog]], so a replayed micro-batch
    * rewrites identical bytes instead of double-scheduling frames —
    * at-least-once delivery, exactly-once decode work. The drained
    * manifest must be indistinguishable from the batch run: q89's
    * oracle verbatim.
    *
    * This is the shape a 100 TB media ingest actually runs: the
    * decode fleet (the [[decodeImages]] `mapPartitions` boundary)
    * consumes the manifest log as it grows, and the manifest stays
    * a bounded per-batch delta — no global recompute per arrival.
    */
  def q335_stream_media_manifest(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q335-") { work =>
      val d = Tables.load(spark, dir, "documents")
      graft.queries.CurationFlow.stageTwoBatches(spark, work, d, "doc_id",
        feed = Some(dir -> "documents"))
      graft.streaming.FileFeed.drain(spark, s"$work/incoming", d.schema, s"$work/ckpt")(
        _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.io.BatchLog.append(
            frameManifestOf(batch), s"$work/manifest", batchId)
          ()
        })
      graft.io.BatchLog.read(spark, s"$work/manifest")
        .orderBy("doc_id", "frame_idx")
    }

  val q89_oracle: String =
    s"""SELECT doc_id, n_frames, frame_idx,
       |  md5(substr(text, CAST(frame_idx * $frameLen + 1 AS BIGINT), $frameLen)) AS frame_md5
       |FROM (
       |  SELECT doc_id, text, (len(text) + ${frameLen - 1}) // $frameLen AS n_frames
       |  FROM documents),
       |  LATERAL unnest(range(0, n_frames, $frameStride)) AS f(frame_idx)
       |WHERE n_frames > 0
       |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------- q195: media dedup without decoding ----------

  /** Extent fingerprints appearing in more than this many payloads
    * are dropped from pair generation (shared headers/boilerplate
    * extents carry no identity — q72's rare-key rule at the payload
    * level). */
  val extentDfCap = 5

  /** MEDIA near-dup detection WITHOUT decoding — the multimodal
    * member of the dedup family: payloads are fingerprinted as their
    * q89-style fixed extents (md5 per [[frameLen]]-char extent — the
    * stand-in for byte extents of a real blob), candidate pairs come
    * from a rare-extent posting self-join, and a pair is a near-dup
    * when the shared-extent CONTAINMENT of the smaller payload
    * reaches half (`shared·2 ≥ min(n_a, n_b)` — asymmetric on
    * purpose: a clip embedded in a longer reel must match, the q108
    * rule for media). Exact dedup falls out as contain_ppm = 10⁶
    * with equal extent counts. No decoder ever runs — this is what
    * makes petabyte media dedup affordable: bytes are compared
    * through bounded fingerprints, never pixels.
    *
    * Scale shape: extent hashing is a bounded explode (payload/
    * frameLen rows); the posting join touches extents with df ≤
    * [[extentDfCap]] only; the pair rollup carries 16-byte keys.
    */
  def q195_media_dedup(spark: SparkSession, dir: String): DataFrame = {
    val ext = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        expr(s"length(text) div $frameLen").cast("long").as("n_ext"), col("text"))
      .filter(col("n_ext") > 0)
      .select(col("doc_id"), col("n_ext"), col("text"),
        explode(sequence(lit(0L), col("n_ext") - 1)).as("i"))
      .withColumn("h", md5(expr(
        s"substring(text, cast(i * $frameLen + 1 as int), $frameLen)")))
    val eh = ext.select(col("doc_id"), col("n_ext"), col("h"))
    val rare = eh.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= extentDfCap)
      .select("h")
    val posting = eh.join(rare, "h")
    posting.select(col("h"), col("doc_id").as("a_id"), col("n_ext").as("n_a"))
      .join(posting.select(col("h"), col("doc_id").as("b_id"),
        col("n_ext").as("n_b")), Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "n_a", "n_b")
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") * 2 >= least(col("n_a"), col("n_b")))
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"), col("shared"),
        expr("(shared * 1000000) DIV least(n_a, n_b)").as("contain_ppm"))
      .orderBy("a_id", "b_id")
  }

  val q195_oracle: String =
    s"""WITH ext AS (
       |  SELECT doc_id, n_ext,
       |    md5(substr(text, CAST(i * $frameLen + 1 AS BIGINT), $frameLen)) AS h
       |  FROM (
       |    SELECT doc_id, text, len(text) // $frameLen AS n_ext
       |    FROM documents),
       |    LATERAL unnest(range(0, n_ext)) AS f(i)
       |  WHERE n_ext > 0),
       |rare AS (SELECT h FROM ext GROUP BY h HAVING count(*) <= $extentDfCap),
       |p AS (SELECT ext.doc_id, ext.n_ext, ext.h FROM ext JOIN rare USING (h))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  a.n_ext AS n_a, b.n_ext AS n_b,
       |  CAST(count(*) AS BIGINT) AS shared,
       |  CAST((count(*) * 1000000) // least(a.n_ext, b.n_ext) AS BIGINT)
       |    AS contain_ppm
       |FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2, 3, 4
       |HAVING count(*) * 2 >= least(a.n_ext, b.n_ext)
       |ORDER BY a_id, b_id""".stripMargin

  // ---------- q251: image-caption pair construction ----------

  /** Caption length (tokens) and screens. */
  val captionToks = 12
  val captionMinToks = 5

  /** Builds the image-caption training-pair table — the multimodal
    * curation step between raw media and a contrastive trainer: pair
    * each media payload with its caption (the document's first
    * [[captionToks]] tokens), screen out captions that are too short,
    * non-English, or low-quality, and DEDUP identical captions to one
    * pair (min doc_id representative — a caption shared by thousands
    * of stock images would otherwise dominate a contrastive batch).
    * Output carries the payload hash + stub dimensions (the decode
    * boundary q31 establishes) and exact caption token counts.
    *
    * Scale shape: caption/screen columns are narrow per-row
    * expressions over the media scan; the dedup is one caption-hash
    * keyed aggregate with min_by carrying the representative's
    * columns (no join back, no window). Nothing pairwise, no hints.
    */
  def q251_caption_pairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        T.tokens(col("text")).as("tk"))
      .filter(col("lang") === "en" &&
        size(col("tk")) >= captionMinToks &&
        T.qualityScore(col("text")) > 0.4)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("payload_md5"),
        (lit(64) + pmod(length(col("text").cast("binary")), lit(64))).as("stub_width"),
        (lit(64) + pmod(floor(length(col("text").cast("binary")) / lit(64)).cast("long"),
          lit(64))).as("stub_height"),
        concat_ws(" ", slice(col("tk"), 1, captionToks)).as("caption"),
        least(size(col("tk")), lit(captionToks)).cast("long").as("n_caption_toks"))
    base
      .groupBy(md5(col("caption")).as("caption_h"))
      .agg(
        min_by(struct(col("doc_id"), col("source"), col("payload_md5"),
          col("stub_width"), col("stub_height"), col("n_caption_toks")),
          col("doc_id")).as("rep"),
        count(lit(1)).cast("long").as("n_candidates"))
      .select(col("rep.doc_id").as("doc_id"), col("caption_h"),
        col("rep.source").as("source"), col("rep.payload_md5").as("payload_md5"),
        col("rep.stub_width").as("stub_width"),
        col("rep.stub_height").as("stub_height"),
        col("rep.n_caption_toks").as("n_caption_toks"), col("n_candidates"))
      .orderBy("doc_id")
  }

  val q251_oracle: String = {
    import graft.functions.{TextFunctions => T}
    val tk = T.tokensSql("text")
    s"""WITH b AS (
       |  SELECT doc_id, source,
       |    md5(text) AS payload_md5,
       |    64 + (octet_length(CAST(text AS BLOB)) % 64) AS stub_width,
       |    64 + ((octet_length(CAST(text AS BLOB)) // 64) % 64) AS stub_height,
       |    array_to_string(($tk)[1:$captionToks], ' ') AS caption,
       |    CAST(least(len($tk), $captionToks) AS BIGINT) AS n_caption_toks
       |  FROM documents
       |  WHERE lang = 'en' AND len($tk) >= $captionMinToks
       |    AND ${T.qualityScoreSql("text")} > 0.4),
       |d AS (
       |  SELECT md5(caption) AS caption_h, min(doc_id) AS doc_id,
       |    CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM b GROUP BY md5(caption))
       |SELECT b.doc_id, d.caption_h, b.source, b.payload_md5,
       |  b.stub_width, b.stub_height, b.n_caption_toks, d.n_candidates
       |FROM d JOIN b ON b.doc_id = d.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  // ---------- q257: aspect-ratio bucketing ----------

  /** Declared aspect buckets in e2 units (9:16, 3:4, 1:1, 4:3, 16:9)
    * and the training batch size. */
  val aspectBuckets: Seq[Long] = Seq(56L, 75L, 100L, 133L, 178L)
  val aspectBatch = 32L

  /** Aspect-ratio bucketing for image training — the batching step a
    * resolution-aware vision trainer runs so one batch never mixes
    * portrait and landscape (resize-to-fit would distort): each
    * payload's stub dimensions (q31's decode boundary) map to the
    * NEAREST declared bucket (integer midpoint fences — the midpoints
    * are non-integral so no ties exist), then docs rank WITHIN their
    * bucket and pack into fixed-size batches. batch_idx is exact:
    * (rank−1) DIV batch_size.
    *
    * Scale shape: bucket assignment is a narrow per-row CASE over the
    * media scan; the within-bucket rank rides `RangeRank` (range-
    * partitioned two-pass — never a single-task per-bucket sort; a
    * bucket holds ~1/5 of the corpus, far beyond one task at 100 TB).
    */
  def q257_aspect_buckets(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeRank
    val base = mediaTable(spark, dir)
      .select(col("doc_id"),
        (lit(64) + pmod(length(col("payload")), lit(64))).as("w"),
        (lit(64) + pmod(floor(length(col("payload")) / lit(64)).cast("long"),
          lit(64))).as("h"))
      .withColumn("ratio_e2", expr("(w * 100) DIV h").cast("long"))
      .withColumn("bucket_e2",
        when(col("ratio_e2") <= 65, lit(56L))
          .when(col("ratio_e2") <= 87, lit(75L))
          .when(col("ratio_e2") <= 116, lit(100L))
          .when(col("ratio_e2") <= 155, lit(133L))
          .otherwise(lit(178L)))
    RangeRank.rank(base, Seq("bucket_e2"),
        Seq(RangeRank.Key("doc_id")), "rk", "n_in_bucket")
      .select(col("doc_id"), col("bucket_e2"), col("ratio_e2"),
        expr(s"(rk - 1) DIV $aspectBatch").cast("long").as("batch_idx"),
        col("n_in_bucket").cast("long").as("n_in_bucket"))
      .orderBy("doc_id")
  }

  val q257_oracle: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    64 + octet_length(CAST(text AS BLOB)) % 64 AS w,
       |    64 + CAST(floor(octet_length(CAST(text AS BLOB)) / 64) AS BIGINT) % 64 AS h
       |  FROM documents),
       |r AS (SELECT doc_id, (w * 100) // h AS ratio_e2 FROM m),
       |b AS (SELECT doc_id, ratio_e2,
       |    CASE WHEN ratio_e2 <= 65 THEN 56 WHEN ratio_e2 <= 87 THEN 75
       |         WHEN ratio_e2 <= 116 THEN 100 WHEN ratio_e2 <= 155 THEN 133
       |         ELSE 178 END AS bucket_e2 FROM r),
       |k AS (SELECT doc_id, bucket_e2, ratio_e2,
       |    row_number() OVER (PARTITION BY bucket_e2 ORDER BY doc_id) AS rk,
       |    count(*) OVER (PARTITION BY bucket_e2) AS n_in_bucket FROM b)
       |SELECT doc_id, CAST(bucket_e2 AS BIGINT) AS bucket_e2,
       |  CAST(ratio_e2 AS BIGINT) AS ratio_e2,
       |  CAST((rk - 1) // $aspectBatch AS BIGINT) AS batch_idx,
       |  CAST(n_in_bucket AS BIGINT) AS n_in_bucket
       |FROM k ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q257_aspect_buckets" -> (q257_aspect_buckets _),
    "q31_multimodal_extract" -> (q31_multimodal_extract _),
    "q89_frame_sample" -> (q89_frame_sample _),
    "q195_media_dedup" -> (q195_media_dedup _),
    "q251_caption_pairs" -> (q251_caption_pairs _),
    "q335_stream_media_manifest" -> (q335_stream_media_manifest _))

  val oracles: Map[String, String] = Map(
    "q257_aspect_buckets" -> q257_oracle,
    "q31_multimodal_extract" -> q31_oracle,
    "q89_frame_sample" -> q89_oracle,
    "q195_media_dedup" -> q195_oracle,
    "q251_caption_pairs" -> q251_oracle,
    // q89's oracle verbatim — see q335_stream_media_manifest
    "q335_stream_media_manifest" -> q89_oracle)
}
