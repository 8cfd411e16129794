package graft.queries

import graft.Tables
import graft.functions.{VectorFunctions => V}
import graft.io.Artifacts
import graft.streaming.FileFeed
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search and near-dup operators
  * (SURVEY §2 #28–#30).
  */
object VectorQueries extends graft.QueryFamily {

  val nPlanes = 8
  val dim = 64
  lazy val planes: Seq[Seq[Double]] = V.planes(nPlanes, dim)

  /** Widest plane set the corpus-adaptive bucket can draw on. Plane j
    * is a pure function of (j, i) — [[planes]] IS the prefix of this
    * set — so masking the 24-plane code to its low `base` bits
    * reproduces the fixed-width bucket bit for bit. 2^24 buckets at
    * the 500-row occupancy target covers ~8·10^9 vectors before
    * occupancy starts growing again.
    */
  val maxPlanes = 24
  lazy val planesWide: Seq[Seq[Double]] = V.planes(maxPlanes, dim)

  /** Expected LSH bucket occupancy the adaptive code width targets —
    * the same "bounded cell" constant family as q87's k = N/500.
    */
  val bucketOccupancyTarget = 500L

  /** Corpus-adaptive plane count: the smallest np in [base, maxPlanes]
    * with N ≤ [[bucketOccupancyTarget]]·2^np, i.e. expected occupancy
    * ≤ 500 at every corpus size. Spelled as an integer sum of
    * threshold comparisons — no float log2 whose rounding could ever
    * differ between engines — so the DuckDB oracle computes the SAME
    * width from its own count(*). Below the first threshold
    * (N ≤ 500·2^base) nothing changes versus the fixed-width code.
    */
  def adaptiveNp(n: Column, base: Int): Column = {
    require(base < maxPlanes, s"adaptive base $base leaves no headroom")
    (base until maxPlanes).map(j =>
      when(n > lit(bucketOccupancyTarget << j), 1).otherwise(0))
      .foldLeft(lit(base))(_ + _)
  }

  /** [[adaptiveNp]]'s DuckDB twin over a count column. */
  def adaptiveNpSql(nSql: String, base: Int): String =
    if (base >= maxPlanes) base.toString
    else (base until maxPlanes)
      .map(j => s"(CASE WHEN $nSql > ${bucketOccupancyTarget << j} THEN 1 ELSE 0 END)")
      .mkString(s"($base + ", " + ", ")")

  /** One-row (np, np_mask) frame for a corpus — broadcast-cross-joined
    * so the adaptive width rides the plan as a plain attribute (the
    * 1-row stat-table pattern; no driver-side count action).
    */
  private def npStats(e: DataFrame, base: Int): DataFrame =
    e.agg(count(lit(1)).as("n"))
      .select(adaptiveNp(col("n"), base).as("np"))
      .select(col("np"), (expr("shiftleft(1, np)") - lit(1)).as("np_mask"))

  private[queries] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), V.asDouble(col("embedding")).as("v"))

  // ---------- q28: brute-force cosine top-k ----------

  /** Exact top-5 cosine neighbors for a bounded query set (vec_id<50).
    * Brute force is the *baseline*: O(|Q|·N) — fine for |Q| small and
    * the validation path for q29's approximate index. The corpus side
    * streams once; the query side is broadcast.
    */
  def q28_knn_bruteforce(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), V.norm(col("v")).as("q_nrm"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("nv"), V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cos.as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  val q28_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cos AS cos
       |  FROM (SELECT vec_id, v AS qv FROM e WHERE vec_id < 50) q,
       |       (SELECT vec_id, v AS nv FROM e) c
       |  WHERE q.vec_id <> c.vec_id)
       |SELECT q_id, rk, n_id, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
       |  FROM scored)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  // ---------- q29: random-hyperplane LSH ANN ----------

  /** Approximate NN via hyperplane-LSH buckets: vectors only compare
    * within their bucket, so the join is bucket-equi (shuffle by
    * bucket id) instead of all-pairs. The code width is
    * CORPUS-ADAPTIVE ([[adaptiveNp]] from base 8): expected occupancy
    * stays ≤ [[bucketOccupancyTarget]] at every corpus size, so a
    * query's bucket scan is bounded — at sf test scales (N ≤ 128k)
    * the bucket is bit-identical to the fixed 8-plane code.
    */
  def q29_knn_lsh(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    val e = e0.crossJoin(broadcast(npStats(e0, nPlanes)))
      .withColumn("bucket",
        V.lshBucket(col("v"), planesWide).bitwiseAND(col("np_mask")))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"),
        V.norm(col("v")).as("q_nrm"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("bucket"),
      V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    q.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("bucket"), col("n_id"), cos.as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "bucket", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  val q29_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    val bucket = V.lshBucketSql("v", planesWide)
    s"""WITH np AS (SELECT ${adaptiveNpSql("count(*)", nPlanes)} AS np
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |b AS (SELECT vec_id, v, ($bucket & ((1 << np) - 1)) AS bucket
       |  FROM e, np),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.bucket, c.vec_id AS n_id, $cos AS cos
       |  FROM (SELECT vec_id, v AS qv, bucket FROM b WHERE vec_id < 50) q
       |  JOIN (SELECT vec_id, v AS nv, bucket FROM b) c USING (bucket)
       |  WHERE q.vec_id <> c.vec_id)
       |SELECT q_id, bucket, rk, n_id, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
       |  FROM scored)
       |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin
  }

  // ---------- q30: embedding-cosine near-dup ----------

  /** Near-duplicate pairs: same LSH bucket AND cosine above threshold;
    * each duplicate group keeps its minimum vec_id as representative.
    * The bucket pre-filter is what makes this near-linear — the
    * threshold filter alone would still need all pairs — and the code
    * width is CORPUS-ADAPTIVE ([[adaptiveNp]]): a fixed width would
    * send bucket occupancy to N/2^np and the self-join quadratic
    * (measured in round 16: 39× wall for 10× data at 5M vectors);
    * with occupancy pinned ≤ [[bucketOccupancyTarget]] the candidate
    * volume grows linearly in N.
    */
  val nearDupThreshold = 0.35

  def q30_embedding_dedup(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    val e = e0.crossJoin(broadcast(npStats(e0, nPlanes)))
      .withColumn("bucket",
        V.lshBucket(col("v"), planesWide).bitwiseAND(col("np_mask")))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("qv"), col("bucket"),
      V.norm(col("v")).as("q_nrm"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("nv"), col("bucket"),
      V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cos.as("cos"))
      .filter(col("cos") > nearDupThreshold)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("keep_id"), count(lit(1)).as("n_matches"),
        max(col("cos")).as("max_cos"))
      .withColumnRenamed("b_id", "dup_id")
      .orderBy("dup_id")
  }

  val q30_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    val bucket = V.lshBucketSql("v", planesWide)
    s"""WITH np AS (SELECT ${adaptiveNpSql("count(*)", nPlanes)} AS np
       |  FROM embeddings),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |b AS (SELECT vec_id, v, ($bucket & ((1 << np) - 1)) AS bucket
       |  FROM e, np),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, c.vec_id AS b_id, $cos AS cos
       |  FROM (SELECT vec_id, v AS qv, bucket FROM b) a
       |  JOIN (SELECT vec_id, v AS nv, bucket FROM b) c USING (bucket)
       |  WHERE a.vec_id < c.vec_id)
       |SELECT b_id AS dup_id, min(a_id) AS keep_id, count(*) AS n_matches,
       |  max(cos) AS max_cos
       |FROM pairs WHERE cos > $nearDupThreshold
       |GROUP BY b_id ORDER BY dup_id""".stripMargin
  }

  // ---------- q70: multi-probe hyperplane LSH ----------

  /** Multi-probe LSH: each query searches its own bucket PLUS the
    * nPlanes buckets whose code differs by one flipped plane — the
    * same probing idea q42 applies to IVF cells, applied to q29's
    * hyperplane codes. A neighbor missed because it landed just across
    * one hyperplane (the dominant LSH failure mode) becomes a
    * candidate again.
    *
    * The probe budget pays for finer codes rather than more scanning:
    * with 12 planes the corpus splits into 4096 buckets and a query
    * scans 13 of them — an expected 13/4096 ≈ 0.3% of the corpus,
    * LESS than single-probe q29's 1/256 ≈ 0.4%, at strictly better
    * recall (bounded in LshMultiProbeSpec against exact q28). That is
    * the scale posture for 100 TB: recall comes from probing, cost
    * stays bounded by code width.
    *
    * Corpus vectors are hashed to exactly one bucket and query probes
    * are distinct, so each (query, neighbor) pair is scored at most
    * once — no dedup step.
    */
  val nPlanesMulti = 12
  lazy val planesMulti: Seq[Seq[Double]] = V.planes(nPlanesMulti, dim)

  /** The np+1 probe buckets of a code under the adaptive width: the
    * bucket itself plus each one-plane flip. Dynamic length (np rides
    * the 1-row stat join), so a wider corpus probes more buckets of a
    * proportionally finer partition — scan fraction (np+1)/2^np keeps
    * FALLING as the corpus grows.
    */
  private def probesOf(bucket: Column): Column =
    concat(array(bucket),
      transform(sequence(lit(0), col("np") - 1),
        j => bucket.bitwiseXOR(call_function("shiftleft", lit(1), j))))

  def q70_knn_lsh_multiprobe(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    // hash every vector into its bucket ONCE (Lineage.cut): the
    // query/bench and corpus sides are filters of the same bucketed
    // stream, and as separate plan copies each re-ran the nPlanes
    // dot products per vector plus the stats subquery (guide §2.4)
    val e = graft.Lineage.cut(
      e0.crossJoin(broadcast(npStats(e0, nPlanesMulti)))
        .withColumn("bucket",
          V.lshBucket(col("v"), planesWide).bitwiseAND(col("np_mask"))))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), V.norm(col("v")).as("q_nrm"),
        explode(probesOf(col("bucket"))).as("probe"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("nv"),
      col("bucket").as("probe"), V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    q.join(c, Seq("probe"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cos.as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  val q70_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    val bucket = V.lshBucketSql("v", planesWide)
    s"""WITH np AS (SELECT ${adaptiveNpSql("count(*)", nPlanesMulti)} AS np
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |b AS (SELECT vec_id, v, ($bucket & ((1 << np) - 1)) AS bucket
       |  FROM e, np),
       |probes AS (
       |  SELECT vec_id, v, unnest([bucket] ||
       |    [xor(bucket, (1 << CAST(j AS INTEGER))) for j in range(0, np)]) AS probe
       |  FROM b, np WHERE vec_id < 50),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cos AS cos
       |  FROM (SELECT vec_id, v AS qv, probe FROM probes) q
       |  JOIN (SELECT vec_id, v AS nv, bucket AS probe FROM b) c USING (probe)
       |  WHERE q.vec_id <> c.vec_id)
       |SELECT q_id, rk, n_id, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
       |  FROM scored)
       |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin
  }

  // ---------- q106: embedding-space decontamination ----------

  /** Semantic decontamination (round 8): q37/q67 catch benchmark
    * contamination by n-gram OVERLAP, which paraphrased or lightly
    * rewritten benchmark material evades; the embedding-space form
    * flags every training vector whose cosine against ANY benchmark
    * vector clears the near-dup threshold. The benchmark set is a
    * deterministic content-hash eighth of the vectors (the q33/q94
    * sampling rule — reproducible, engine-independent); training
    * corpus = the rest.
    *
    * Scale shape: multi-probe hyperplane LSH with the PROBE fan-out on
    * the benchmark side — benchmarks are tiny next to a 100 TB corpus,
    * so the 13× probe explosion rides the small table while every
    * corpus vector is hashed exactly once into one bucket; the
    * candidate join is bucket-equi, and the exact-cosine verify only
    * touches candidates. Corpus-side rows are unique per bucket and
    * probes are distinct, so no pair is scored twice.
    */
  def q106_semantic_decontam(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    // hash every vector into its bucket ONCE (Lineage.cut): the
    // query/bench and corpus sides are filters of the same bucketed
    // stream, and as separate plan copies each re-ran the nPlanes
    // dot products per vector plus the stats subquery (guide §2.4)
    val e = graft.Lineage.cut(
      e0.crossJoin(broadcast(npStats(e0, nPlanesMulti)))
        .withColumn("bucket",
          V.lshBucket(col("v"), planesWide).bitwiseAND(col("np_mask"))))
    val isBench =
      substring(md5(concat(lit("dc|"), col("vec_id").cast("string"))), 1, 1)
        .isin("0", "1")
    val bench = e.filter(isBench)
      .select(col("vec_id").as("b_id"), col("v").as("qv"),
        V.norm(col("v")).as("q_nrm"),
        explode(probesOf(col("bucket"))).as("probe"))
    val corpus = e.filter(!isBench)
      .select(col("vec_id"), col("v").as("nv"), col("bucket").as("probe"),
        V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    corpus.join(bench, Seq("probe"))
      .select(col("vec_id"), col("b_id"), cos.as("cos"))
      .filter(col("cos") > nearDupThreshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).cast("long").as("n_bench_matches"),
        min(col("b_id")).as("min_bench_id"),
        max(col("cos")).as("max_cos"))
      .orderBy("vec_id")
  }

  val q106_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    val bucket = V.lshBucketSql("v", planesWide)
    s"""WITH np AS (SELECT ${adaptiveNpSql("count(*)", nPlanesMulti)} AS np
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
       |    substring(md5(concat('dc|', CAST(vec_id AS VARCHAR))), 1, 1)
       |      IN ('0', '1') AS is_bench
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, is_bench, ($bucket & ((1 << np) - 1)) AS bucket
       |  FROM e, np),
       |probes AS (
       |  SELECT vec_id, v, unnest([bucket] ||
       |    [xor(bucket, (1 << CAST(j AS INTEGER))) for j in range(0, np)]) AS probe
       |  FROM b, np WHERE is_bench),
       |scored AS (
       |  SELECT c.vec_id, q.vec_id AS b_id, $cos AS cos
       |  FROM (SELECT vec_id, v AS nv, bucket AS probe FROM b WHERE NOT is_bench) c
       |  JOIN (SELECT vec_id, v AS qv, probe FROM probes) q USING (probe))
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
       |  min(b_id) AS min_bench_id, max(cos) AS max_cos
       |FROM scored WHERE cos > $nearDupThreshold
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ---------- q334: semantic decontamination, BOUNDED benchmark ----------

  /** q106 with the benchmark side FIXED at an absolute size: the
    * first [[boundedBenchSize]] vector ids are the benchmark, however
    * large the corpus grows. q106's hash-eighth fixture makes the
    * benchmark grow as N/8 — fine for correctness, but it conflates
    * fixture growth with operator scaling in the scale legs (the
    * round-17 verdict's q106 note). A REAL decontamination run has a
    * bounded benchmark (eval suites don't grow with the training
    * corpus), and its cost model is: hash the corpus once (linear
    * scan) + |bench|·(np+1) probe lookups × cell occupancy — so
    * per-bench-item probe cost should be FLAT as the corpus scales at
    * pinned occupancy, which the ANN legs measure at 2M and 20M
    * vectors. Replicas stack above the original id range
    * (graft.ScaleUp), so the benchmark is the same 200 original
    * vectors at every factor. Same adaptive plane width, threshold
    * and verify as q106; the oracle is q106's with the bounded
    * predicate.
    */
  val boundedBenchSize = 200L

  def q334_semantic_decontam_bounded(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    // hash every vector into its bucket ONCE (Lineage.cut): the
    // query/bench and corpus sides are filters of the same bucketed
    // stream, and as separate plan copies each re-ran the nPlanes
    // dot products per vector plus the stats subquery (guide §2.4)
    val e = graft.Lineage.cut(
      e0.crossJoin(broadcast(npStats(e0, nPlanesMulti)))
        .withColumn("bucket",
          V.lshBucket(col("v"), planesWide).bitwiseAND(col("np_mask"))))
    val isBench = col("vec_id") < boundedBenchSize
    val bench = e.filter(isBench)
      .select(col("vec_id").as("b_id"), col("v").as("qv"),
        V.norm(col("v")).as("q_nrm"),
        explode(probesOf(col("bucket"))).as("probe"))
    val corpus = e.filter(!isBench)
      .select(col("vec_id"), col("v").as("nv"), col("bucket").as("probe"),
        V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    corpus.join(bench, Seq("probe"))
      .select(col("vec_id"), col("b_id"), cos.as("cos"))
      .filter(col("cos") > nearDupThreshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).cast("long").as("n_bench_matches"),
        min(col("b_id")).as("min_bench_id"),
        max(col("cos")).as("max_cos"))
      .orderBy("vec_id")
  }

  val q334_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    val bucket = V.lshBucketSql("v", planesWide)
    s"""WITH np AS (SELECT ${adaptiveNpSql("count(*)", nPlanesMulti)} AS np
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
       |    vec_id < $boundedBenchSize AS is_bench
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, is_bench, ($bucket & ((1 << np) - 1)) AS bucket
       |  FROM e, np),
       |probes AS (
       |  SELECT vec_id, v, unnest([bucket] ||
       |    [xor(bucket, (1 << CAST(j AS INTEGER))) for j in range(0, np)]) AS probe
       |  FROM b, np WHERE is_bench),
       |scored AS (
       |  SELECT c.vec_id, q.vec_id AS b_id, $cos AS cos
       |  FROM (SELECT vec_id, v AS nv, bucket AS probe FROM b WHERE NOT is_bench) c
       |  JOIN (SELECT vec_id, v AS qv, probe FROM probes) q USING (probe))
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
       |  min(b_id) AS min_bench_id, max(cos) AS max_cos
       |FROM scored WHERE cos > $nearDupThreshold
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ---------- q42: IVF ANN ----------

  /** The session's coarse quantizers, trained once per (corpus dir,
    * cell count) and shared across consumers — q42+q96 at k=16, q87
    * at its corpus-adaptive k. Training is deterministic (fixed seed,
    * content-hash sample), so the memo cannot change answers
    * (IvfPersistSpec pins fresh-train determinism); it only removes
    * the re-training a real deployment never does per query. Same
    * lifecycle as the text signature index and the BPE merges.
    */
  private def ivfModel(spark: SparkSession, dir: String, k: Int): graft.similarity.IvfIndex.Model =
    Artifacts.value(spark, "ivf", dir, k) {
      graft.similarity.IvfIndex.train(emb(spark, dir), "v", k = k,
        sampleIdCol = Some("vec_id"))
    }

  /** Trained-quantizer ANN: k-means cells + 4-probe search, the IVF
    * counterpart of q29's LSH. Rows-only driver check (k-means floats
    * are engine-specific, so no SQL oracle); IvfIndexSpec bounds
    * recall against the exact brute force instead.
    */
  def q42_knn_ivf(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val model = ivfModel(spark, dir, k = 16)
    val corpusCells = e
      .withColumn("cell", model.cell(col("v")))
      .select(col("vec_id").as("n_id"), col("v").as("nv"), col("cell"),
        V.norm(col("v")).as("n_nrm"))
    val queries = e.filter(col("vec_id") < 50)
      .withColumn("probe_cells", model.probeCells(col("v"), nProbe = 4))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(col("probe_cells")).as("cell"), V.norm(col("v")).as("q_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    queries.join(corpusCells, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cos.as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  // ---------- q96: persisted IVF index ----------

  /** The IVF index as a STORED artifact — the vector member of the
    * persisted-index family (q76/q94 MinHash, q84 BM25): train the
    * coarse quantizer once, write the index (a k-row centroid table +
    * the inverted file of cell assignments with precomputed norms),
    * reopen, and answer q42's ANN queries purely from stored columns.
    * At 100 TB the quantizer trains once per corpus version and every
    * query fleet reads the same artifact — re-training per query run
    * (what q42 does as a self-contained operator) is the part this
    * lifecycle removes. Rows-only at the driver like q42 (k-means
    * floats have no SQL twin); IvfPersistSpec pins the stored-index
    * search equal to the fresh-build search row for row.
    */
  // ---------- q227: incremental IVF index update ----------

  /** Index MAINTENANCE for the IVF artifact — the vector member of the
    * incremental-≡-rescan family (q94 signatures, q209 heavy hitters,
    * q224 BM25): the coarse quantizer trains ONCE on the existing
    * corpus and is FROZEN (retraining per ingest would re-assign every
    * stored vector — the one thing a 100 TB inverted file can never
    * afford); an arriving batch is assigned with the STORED centroids
    * (batch-sized scan, reopened quantizer — never the in-memory one)
    * and its postings append as new files. Search then runs against
    * the merged inverted file. Because the quantizer is frozen, append
    * IS the correct merge: IvfUpdateSpec pins the merged search equal
    * row-for-row to a single-shot assignment of the whole corpus under
    * the same model. Rows-only at the driver like q42/q96 (k-means
    * floats have no SQL twin).
    *
    * Scale shape: train-once on the existing side (bounded sample
    * collect), one batch-sized assignment scan, file append; the
    * probe join shuffles by cell id. Cell population drift under
    * sustained ingest is the operational trigger for a quantizer
    * VERSION bump (a new index generation), not an in-place retrain.
    */
  def q227_ivf_index_update(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q227-") { work =>
      val e = emb(spark, dir)
      val isBatch =
        substring(md5(concat(lit("b73|"), col("vec_id").cast("string"))), 1, 1)
          .isin("0", "1")
      val existing = e.filter(!isBatch)
      // build: quantizer trained on the EXISTING corpus only, frozen
      val model = graft.similarity.IvfIndex.train(existing, "v", k = 16,
        sampleIdCol = Some("vec_id"))
      model.centroids.zipWithIndex.map { case (c, j) => (j, c) }
        .toDF("cell_id", "centroid")
        .write.parquet(s"$work/centroids")
      existing.withColumn("cell", model.cell(col("v")))
        .select(col("vec_id"), col("cell"), col("v"), V.norm(col("v")).as("n_nrm"))
        .write.parquet(s"$work/postings")
      // ingest: the batch assigns with the REOPENED quantizer and
      // appends — no existing posting is read or rewritten
      val storedCentroids = spark.read.parquet(s"$work/centroids")
        .orderBy("cell_id").collect()
        .map(_.getSeq[Double](1).toSeq).toSeq
      val stored = graft.similarity.IvfIndex.Model(storedCentroids)
      e.filter(isBatch).withColumn("cell", stored.cell(col("v")))
        .select(col("vec_id"), col("cell"), col("v"), V.norm(col("v")).as("n_nrm"))
        .write.mode("append").parquet(s"$work/postings")
      // search: q96's probe against the MERGED inverted file
      val postings = spark.read.parquet(s"$work/postings")
        .select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("cell"), col("n_nrm"))
      val queries = e.filter(col("vec_id") < 50)
        .withColumn("probe_cells", stored.probeCells(col("v"), nProbe = 4))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(col("probe_cells")).as("cell"), V.norm(col("v")).as("q_nrm"))
      val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      queries.join(postings, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("q_id", "rk", "n_id", "cos")
        .orderBy("q_id", "rk")
    }
  }

  /** q320: IVF ingest as a STREAM — q227's frozen-quantizer append
    * lowered into foreachBatch (q309's harness shape): the arriving
    * eighth lands in micro-batches, each assigned with the REOPENED
    * stored centroids and appended to the inverted file as new
    * parquet files — because the quantizer is frozen, per-batch
    * append IS the correct merge and no state store is needed. After
    * the stream drains, searching the merged file must equal q227's
    * batch append row for row (Round17OpsSpec pins it, exceptAll both
    * ways). With q309/q316/q317 this brings streamed ingest to FOUR
    * of the five index families. Rows-only at the driver (k-means
    * floats, q42's family).
    *
    * Scale shape: per micro-batch, one batch-sized assignment scan +
    * a file append — no stored posting is read, no corpus re-pass;
    * the search is q42's bounded probe unchanged.
    */
  def q320_stream_ivf_ingest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q320-") { work =>
      val e = emb(spark, dir)
      val existing = e.filter(!pqIsBatch(col("vec_id")))
      // build: quantizer trained on the EXISTING corpus only, frozen
      val model = graft.similarity.IvfIndex.train(existing, "v", k = 16,
        sampleIdCol = Some("vec_id"))
      model.centroids.zipWithIndex.map { case (c, j) => (j, c) }
        .toDF("cell_id", "centroid").write.parquet(s"$work/centroids")
      graft.io.BatchLog.base(
        existing.withColumn("cell", model.cell(col("v")))
          .select(col("vec_id"), col("cell"), col("v"),
            V.norm(col("v")).as("n_nrm")),
        s"$work/postings")
      // the stored quantizer reopens ONCE, before the stream starts
      val stored = graft.similarity.IvfIndex.Model(
        spark.read.parquet(s"$work/centroids")
          .orderBy("cell_id").collect().map(_.getSeq[Double](1).toSeq).toSeq)
      val feed = Tables.load(spark, dir, "embeddings")
        .filter(pqIsBatch(col("vec_id")))
      CurationFlow.stageTwoBatches(spark, work, feed, "vec_id",
        feed = Some(dir -> "embeddings-pqbatch"))
      FileFeed.drain(spark, s"$work/incoming", feed.schema, s"$work/ckpt")(
        _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          // batchId-keyed idempotent append (foreachBatch is
          // at-least-once; a replayed blind append would duplicate
          // postings and shift top-k ranks vs rebuild)
          graft.io.BatchLog.append(
            batch.select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
              .withColumn("cell", stored.cell(col("v")))
              .select(col("vec_id"), col("cell"), col("v"),
                V.norm(col("v")).as("n_nrm")),
            s"$work/postings", batchId)
          ()
        })
      // search: q227's probe against the drained merged inverted file
      val postings = graft.io.BatchLog.read(spark, s"$work/postings")
        .select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("cell"), col("n_nrm"))
      val queries = e.filter(col("vec_id") < 50)
        .withColumn("probe_cells", stored.probeCells(col("v"), nProbe = 4))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(col("probe_cells")).as("cell"), V.norm(col("v")).as("q_nrm"))
      val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      queries.join(postings, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("q_id", "rk", "n_id", "cos")
        .orderBy("q_id", "rk")
    }
  }

  /** Erasure-set selector shared by [[q252_ivf_erasure]] and its
    * equivalence spec: ~1/16 of vectors, content-hash chosen. */
  def ivfErased(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(md5(concat(lit("er13|"), idCol.cast("string"))), 1, 1) === "0"

  /** GDPR erasure leg for the vector index — the delete that completes
    * the IVF lifecycle (q96 build / q227 append / q42 probe / THIS
    * erase), mirroring what q229/q230 prove for the signature and BM25
    * indexes: an erasure request lands as a TOMBSTONE table; reads
    * apply it as an anti-join mask over the postings; no posting file
    * is rewritten (the index stays append-only + tombstones, exactly
    * how an immutable-file store takes deletes). The quantizer is
    * frozen — cell assignment never depended on the erased rows'
    * membership, so masked-read ≡ rebuild-without-erased EXACTLY;
    * Round13OpsSpec pins that equivalence bit-for-bit. Rows-only at
    * the driver (k-means floats have no DuckDB twin — q42's family).
    *
    * Scale shape: the tombstone anti-join is keyed on vec_id and
    * request-sized on the right; probe/search is q42's bounded
    * candidate plan unchanged.
    */
  def q252_ivf_erasure(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q252-") { work =>
      val e = emb(spark, dir)
      val model = ivfModel(spark, dir, k = 16)
      // the persisted index: full corpus, frozen quantizer
      e.withColumn("cell", model.cell(col("v")))
        .select(col("vec_id"), col("cell"), col("v"), V.norm(col("v")).as("n_nrm"))
        .write.parquet(s"$work/postings")
      // the erasure request, landed as a tombstone table
      e.filter(ivfErased(col("vec_id"))).select(col("vec_id").as("t_id"))
        .write.parquet(s"$work/tombstones")
      val tombs = spark.read.parquet(s"$work/tombstones")
      val postings = spark.read.parquet(s"$work/postings")
        .join(tombs, col("vec_id") === col("t_id"), "left_anti")
        .select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("cell"), col("n_nrm"))
      val queries = e.filter(col("vec_id") < 50 && !ivfErased(col("vec_id")))
        .withColumn("probe_cells", model.probeCells(col("v"), nProbe = 4))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(col("probe_cells")).as("cell"), V.norm(col("v")).as("q_nrm"))
      val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      queries.join(postings, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("q_id", "rk", "n_id", "cos")
        .orderBy("q_id", "rk")
    }

  /** COMPACTION for the vector index — q261's closing step applied to
    * IVF, finishing what q252 leaves open: the tombstone anti-join is
    * correct but rides every probe forever, and the erased vectors
    * (the actual PII in an embedding index) still sit on disk.
    * Compaction rewrites the postings WITHOUT the tombstoned rows as a
    * new version; the quantizer stays frozen (cell assignment never
    * depended on the erased rows' membership), so the post-compaction
    * probe needs NO mask and equals the masked read bit-for-bit —
    * Round15OpsSpec pins compacted ≡ q252-masked row-for-row and that
    * no erased id survives. Rows-only at the driver (k-means floats,
    * q42's family).
    *
    * Scale shape: ONE vec_id-keyed anti-join + a linear postings
    * rewrite — cell ids are STORED, so the rewrite never re-runs the
    * quantizer; the probe is q42's bounded candidate plan unchanged.
    */
  def q287_ivf_compact(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q287-") { work =>
      val e = emb(spark, dir)
      val model = ivfModel(spark, dir, k = 16)
      // the persisted index (q252's), then the erasure lands
      e.withColumn("cell", model.cell(col("v")))
        .select(col("vec_id"), col("cell"), col("v"), V.norm(col("v")).as("n_nrm"))
        .write.parquet(s"$work/postings")
      e.filter(ivfErased(col("vec_id"))).select(col("vec_id").as("t_id"))
        .write.parquet(s"$work/tombstones")
      val tombs = spark.read.parquet(s"$work/tombstones")
      // COMPACT: rewrite without the tombstoned rows — stored cell ids
      // are reused verbatim, no quantizer re-run, no mask ever again
      spark.read.parquet(s"$work/postings")
        .join(tombs, col("vec_id") === col("t_id"), "left_anti")
        .write.parquet(s"$work/postings_v1")
      val postings = spark.read.parquet(s"$work/postings_v1")
        .select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("cell"), col("n_nrm"))
      val queries = e.filter(col("vec_id") < 50 && !ivfErased(col("vec_id")))
        .withColumn("probe_cells", model.probeCells(col("v"), nProbe = 4))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(col("probe_cells")).as("cell"), V.norm(col("v")).as("q_nrm"))
      val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      queries.join(postings, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("q_id", "rk", "n_id", "cos")
        .orderBy("q_id", "rk")
    }

  /** The rebuild-without-erased reference for the equivalence spec:
    * the SAME frozen quantizer over the corpus minus the erasure set,
    * searched by the same surviving queries. */
  private[graft] def ivfRebuiltWithout(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val model = ivfModel(spark, dir, k = 16)
    val postings = e.filter(!ivfErased(col("vec_id")))
      .withColumn("cell", model.cell(col("v")))
      .select(col("vec_id").as("n_id"), col("v").as("nv"), col("cell"),
        V.norm(col("v")).as("n_nrm"))
    val queries = e.filter(col("vec_id") < 50 && !ivfErased(col("vec_id")))
      .withColumn("probe_cells", model.probeCells(col("v"), nProbe = 4))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(col("probe_cells")).as("cell"), V.norm(col("v")).as("q_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    queries.join(postings, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cos.as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  def q96_ivf_index_persist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q96-") { work =>
      val e = emb(spark, dir)
      val model = ivfModel(spark, dir, k = 16)
      model.centroids.zipWithIndex.map { case (c, j) => (j, c) }
        .toDF("cell_id", "centroid")
        .write.parquet(s"$work/centroids")
      e.withColumn("cell", model.cell(col("v")))
        .select(col("vec_id"), col("cell"), col("v"), V.norm(col("v")).as("n_nrm"))
        .write.parquet(s"$work/postings")
      // reopen: quantizer and inverted file both come from storage
      val storedCentroids = spark.read.parquet(s"$work/centroids")
        .orderBy("cell_id").collect()
        .map(_.getSeq[Double](1).toSeq).toSeq
      val stored = graft.similarity.IvfIndex.Model(storedCentroids)
      val postings = spark.read.parquet(s"$work/postings")
        .select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("cell"), col("n_nrm"))
      val queries = e.filter(col("vec_id") < 50)
        .withColumn("probe_cells", stored.probeCells(col("v"), nProbe = 4))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(col("probe_cells")).as("cell"), V.norm(col("v")).as("q_nrm"))
      val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      queries.join(postings, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("q_id", "rk", "n_id", "cos")
        .orderBy("q_id", "rk")
    }
  }

  // ---------- q79: int8-quantized similarity scoring ----------

  /** Scalar int8 quantization of the embedding index — the standard
    * storage/bandwidth answer for ANN at corpus scale (4 bytes → 1
    * byte per component; the scan that dominates brute-force and
    * bucket-verify stages moves 4× less memory). Each vector is
    * quantized against its own max-abs scale q_i = round(127·x_i/s),
    * and candidates are ranked by the integer dot product of
    * quantized codes — exact integer arithmetic, so both engines rank
    * identically with no float-order caveats at all (the one scoring
    * path in the suite with that property). Same bounded query set as
    * q28 (|Q|·N baseline shape); QuantizedKnnSpec measures its recall
    * against q28's exact ranking. round() is spelled floor(x + 0.5)
    * explicitly because the engines' round() tie rules differ.
    */
  def q79_knn_quantized(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .withColumn("s", aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))))
      .withColumn("qv", transform(col("v"), x =>
        when(col("s") === 0.0, lit(0L))
          .otherwise(floor(x * 127 / col("s") + 0.5).cast("long"))))
      .select(col("vec_id"), col("qv"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("qv").as("qa"))
    val c = e.select(col("vec_id").as("n_id"), col("qv").as("qb"))
    val qscore = aggregate(
      zip_with(col("qa"), col("qb"), (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy("q_id").orderBy(col("qscore").desc, col("n_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), qscore.as("qscore"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "n_id", "qscore")
      .orderBy("q_id", "rk")
  }

  val q79_oracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |sc AS (SELECT vec_id, v, list_max(list_apply(v, x -> abs(x))) AS s FROM e),
       |qz AS (
       |  SELECT vec_id, list_apply(v, x -> CASE WHEN s = 0 THEN 0
       |    ELSE CAST(floor(x * 127 / s + 0.5) AS BIGINT) END) AS qv
       |  FROM sc),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    CAST(list_sum(list_apply(range(1, len(q.qv)+1),
       |      i -> (q.qv)[i]*(c.qv)[i])) AS BIGINT) AS qscore
       |  FROM (SELECT vec_id, qv FROM qz WHERE vec_id < 50) q,
       |       (SELECT vec_id, qv FROM qz) c
       |  WHERE q.vec_id <> c.vec_id)
       |SELECT q_id, rk, n_id, qscore FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY qscore DESC, n_id ASC) AS rk
       |  FROM scored)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  // ---------- q87: cluster-scoped semantic dedup (SemDeDup) ----------

  /** Semantic dedup via trained clusters — the SemDeDup recipe (Abbas
    * et al. 2023, arXiv:2303.09540): k-means-cluster the embedding
    * space, then look for near-duplicate pairs ONLY within each
    * cluster, keeping the min-id representative per duplicate found.
    * The trained complement of q30's hyperplane-LSH near-dup: LSH
    * bounds candidates with data-oblivious random cuts, SemDeDup with
    * data-adaptive cells — at 100 TB the adaptive partition is what
    * keeps semantically dense regions (the place near-dups live) in
    * the SAME cell, so recall holds while candidate count stays
    * ~Σ|cell|²/2 ≪ N²/2. Same verify arithmetic and threshold as q30,
    * so the two operators differ ONLY in candidate generation —
    * SemDedupSpec measures the overlap of their verdicts.
    *
    * k-means floats are engine-specific → rows-only driver check
    * (same rationale as q42); SemDedupSpec pins recall ≥ 0.4 against
    * the exact all-pairs truth (measured 0.49, vs 0.03 for q30's LSH
    * cut), that trained cells beat the LSH cut on the same truth, and
    * the candidate-bound invariant.
    *
    * The cell count GROWS with the corpus (one cell per
    * [[semDedupTargetCell]] vectors, floor [[semDedupCells]]): with a
    * fixed k, within-cell pair work is N²/k — measured 7× wall at 10×
    * data with k=8 — while N/target cells hold per-cell size constant
    * so total pair work stays ~N·target/2, linear in the corpus. The
    * row count() feeding k is parquet-metadata-cheap, the same cost
    * class as the training sample.
    *
    * Because k grows with N, the quantizer is the TWO-LEVEL model
    * ([[graft.similarity.IvfIndex.TwoLevelModel]]): a flat quantizer
    * pays O(k·dim) per row to assign and O(sample·k·dim) to train —
    * both ~N²/500 below the sample cap (the measured 9.1× wall at 10×
    * data in round 13) and 2M dots per row at the 100 TB point —
    * while two levels pay O(2√k·dim) for the same data-adaptive
    * cells. The assigned+normed corpus is materialized once
    * (Lineage.cut) so the self-join's two sides share ONE assignment
    * pass instead of recomputing it per side.
    */
  val semDedupCells = 8
  val semDedupTargetCell = 500L

  /** q87's corpus-adaptive cell count at this corpus size. */
  private[graft] def semDedupK(n: Long): Int =
    math.max(semDedupCells, (n / semDedupTargetCell).toInt)

  /** The session's two-level SemDeDup quantizer, memoized per
    * (corpus dir, k) like [[ivfModel]] — deterministic training, so
    * the memo cannot change answers. */
  private def semDedupModel(spark: SparkSession, dir: String, k: Int)
      : graft.similarity.IvfIndex.TwoLevelModel =
    Artifacts.value(spark, "semdedup", dir, k) {
      graft.similarity.IvfIndex.trainTwoLevel(emb(spark, dir), "v", k = k,
        sampleIdCol = Some("vec_id"))
    }

  /** The corpus with its global cell id and norm — ONE assignment
    * pass, shared by both sides of q87's candidate self-join (and by
    * SemDedupSpec's candidate-bound audit). topcell is its own column
    * so the top argmin runs once per row, then the fine argmin touches
    * only the matched top cell's codebook through
    * [[graft.similarity.IvfIndex.TwoLevelModel.assignCells]] — a plan
    * literal below the shipping cap, a broadcast (topcell → codebook)
    * table above it, so at the k = N/500 design point neither the
    * expression TREE nor the plan PAYLOAD scales with k. */
  private[graft] def semDedupAssigned(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val k = semDedupK(e.count())
    val model = semDedupModel(spark, dir, k)
    graft.Lineage.cut(
      model.assignCells(
        e.withColumn("topcell", model.topCell(col("v"))), "topcell", "v", "cell")
        .select(col("vec_id"), col("cell"), col("v"), V.norm(col("v")).as("nrm")))
  }

  /** Session-lifetime STORED SemDeDup verdict table — the CcLabels
    * rule applied to the embedding clusters: every `dedup_semantic`
    * consumer (q323 batch, q326 stream, each declared funnel) re-ran
    * the quantizer assignment + per-cell cosine self-join. The first
    * consumer writes the bounded (dup_id, keep_id, n_matches,
    * max_cos) verdict set to scratch parquet; q87 itself still
    * computes fresh (it IS the operator under test).
    */
  private[queries] def semDedupVerdicts(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, "semv", dir)(semVerdictsOf(spark, dir))

  def q87_semdedup(spark: SparkSession, dir: String): DataFrame =
    semVerdictsOf(spark, dir).orderBy("dup_id")

  private def semVerdictsOf(spark: SparkSession, dir: String): DataFrame = {
    val cells = semDedupAssigned(spark, dir)
    val a = cells.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("qv"), col("nrm").as("q_nrm"))
    val b = cells.select(col("cell"), col("vec_id").as("b_id"),
      col("v").as("nv"), col("nrm").as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    // shuffle_hash hint: the candidate join must be a SHUFFLED join on
    // cell, not a broadcast — the corpus side grows with N, and the
    // exchange is also what spreads the O(N·cell) pair loop across
    // cores (the scan alone has file-count parallelism; measured 2×
    // on local[32]). Balance is by construction: adaptive k keeps
    // every cell ~targetCell rows, so no partition drags. Hash beats
    // sort-merge here — per-cell HashedRelation probes, no sort, and
    // AQE cannot mis-promote the growing side to a broadcast.
    a.join(b.hint("shuffle_hash"), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cos.as("cos"))
      .filter(col("cos") > nearDupThreshold)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("keep_id"), count(lit(1)).as("n_matches"),
        max(col("cos")).as("max_cos"))
      .withColumnRenamed("b_id", "dup_id")
  }

  // ---------- q112: product-quantized ANN (ADC + exact rerank) ----------

  /** The session's PQ codebooks, trained once per corpus dir on the
    * same bounded sample as the IVF quantizer (deterministic, so the
    * memo cannot change answers — PqIndexSpec pins fresh-train
    * determinism).
    */
  private def pqModel(spark: SparkSession, dir: String): graft.similarity.PqIndex.Model =
    Artifacts.value(spark, "pq", dir) {
      graft.similarity.PqIndex.train(emb(spark, dir), "v", m = 8, ksub = 16,
        sampleIdCol = Some("vec_id"))
    }

  /** Probed cells per query — 4 of the 16 coarse cells, q42's knob:
    * the ADC scan touches ~nProbe/k of the corpus instead of all of
    * it.
    */
  private[graft] val pqNProbe = 4

  /** The IVF-restricted ADC shortlist — factored so PqIndexSpec can
    * pin the candidate bound (every query scores only the codes in
    * its probed cells, strictly fewer rows than the flat N-scan).
    * Returns (q_id, n_id): the PQ top-50 per query among probed-cell
    * candidates.
    */
  /** PQ-encode a vector set under GIVEN frozen models: (n_id, coarse
    * cell, m one-byte-scale codes) — the index's row payload. Shared
    * by the full-corpus build, the lifecycle rebuild references, and
    * q296's batch-ingest leg. */
  private def pqEncode(
      model: graft.similarity.PqIndex.Model,
      ivf: graft.similarity.IvfIndex.Model,
      vectors: DataFrame): DataFrame =
    model.encodeFrom(
      vectors.select(col("vec_id").as("n_id"), col("v")), "v", "codes")
      .withColumn("cell", ivf.cell(col("v")))
      .select("n_id", "cell", "codes")

  /** The encoded corpus — shared by the fresh-train q112 path and the
    * stored-artifact lifecycle legs (q293–q295). */
  private[graft] def pqEncodedCorpus(spark: SparkSession, dir: String): DataFrame =
    pqEncode(pqModel(spark, dir), ivfModel(spark, dir, k = 16),
      emb(spark, dir))

  /** ADC shortlist over a GIVEN codes table and models — the
    * lifecycle legs pass reopened-from-storage models and
    * masked/compacted codes through the identical probe. */
  private[graft] def pqAdcCandidatesFrom(
      spark: SparkSession, dir: String,
      model: graft.similarity.PqIndex.Model,
      ivf: graft.similarity.IvfIndex.Model,
      codes: DataFrame,
      queryPred: org.apache.spark.sql.Column): DataFrame = {
    import spark.implicits._
    // queries are collected for LUT construction anyway, so probe
    // cells are computed locally with the bit-identical twin of the
    // distributed cell argmin; the probe fan-out (|Q|·nProbe rows,
    // each carrying its m×ksub LUT) broadcasts — the corpus side
    // joins on cell and never moves
    val qProbe = emb(spark, dir)
      .filter(col("vec_id") < 50 && queryPred)
      .select("vec_id", "v").collect()
      .toSeq.flatMap { r =>
        val q = r.getSeq[Double](1).toArray
        val lut = model.lut(q).map(_.toSeq).toSeq
        ivf.probeCellsLocal(q, pqNProbe).map(c => (r.getLong(0), c, lut))
      }.toDF("q_id", "cell", "lut")
    val wAdc = Window.partitionBy("q_id").orderBy(col("adc").desc, col("n_id").asc)
    codes.join(broadcast(qProbe), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        model.adcScore(col("codes"), col("lut")).as("adc"))
      .withColumn("rk0", row_number().over(wAdc))
      .filter(col("rk0") <= 50)
      .select("q_id", "n_id")
  }

  private[graft] def pqAdcCandidates(spark: SparkSession, dir: String): DataFrame =
    pqAdcCandidatesFrom(spark, dir,
      pqModel(spark, dir), ivfModel(spark, dir, k = 16),
      // the repartition is load-bearing twice over: (1) the exchange
      // MATERIALIZES the code arrays, so the ADC join's inner loop
      // reads a 4-byte-code attribute instead of re-evaluating the
      // m·ksub argmin encode per (query, vector) pair — whole-stage
      // codegen defers a stream-side projection into the loop body
      // (measured 16 s → 1.8 s at sf1); (2) it fans the scoring loop
      // across cores instead of the scan's file-count parallelism
      pqEncodedCorpus(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism),
      lit(true))

  /** IVF-PQ ANN (Jégou et al. 2011, the composed structure): the
    * corpus is reduced to 8 codebook ids per vector
    * ([[graft.similarity.PqIndex]], 64× smaller than the float
    * embedding) AND assigned to a trained coarse cell
    * ([[graft.similarity.IvfIndex]], q42's quantizer); each query
    * probes its [[pqNProbe]] nearest cells and ADC-scores ONLY the
    * codes inside them — asymmetric-distance lookup tables ship WITH
    * each query (m table reads per candidate, zero per-pair vector
    * arithmetic), so the scan is ~nProbe/k of the corpus at 1/64th
    * the bytes per row. The PQ top-50 is then reranked with the exact
    * cosine — the standard IVF-ADC+rerank pipeline, completing the
    * ANN family (q29/q70 LSH and q42/q96 IVF bound the candidate SET;
    * PQ shrinks the BYTES; this operator composes both cuts).
    * Rows-only at the driver like q42 (trained floats have no SQL
    * twin); PqIndexSpec bounds end-to-end recall@5 against q28's
    * exact ranking and pins the probed-cell candidate bound.
    */
  /** Exact-cosine rerank of a PQ shortlist — shared by q112 and the
    * lifecycle legs. The candidate set already restricts n_id, so the
    * nv side never needs its own mask. */
  private def pqRerank(
      spark: SparkSession, dir: String, cand: DataFrame,
      queryPred: org.apache.spark.sql.Column): DataFrame = {
    val e = emb(spark, dir)
    val qv = e.filter(col("vec_id") < 50 && queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), V.norm(col("v")).as("q_nrm"))
    val nv = e.select(col("vec_id").as("n_id"), col("v").as("nv"), V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    cand.join(broadcast(qv), Seq("q_id")).join(nv, Seq("n_id"))
      .select(col("q_id"), col("n_id"), cos.as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  def q112_knn_ivfpq(spark: SparkSession, dir: String): DataFrame =
    pqRerank(spark, dir, pqAdcCandidates(spark, dir), lit(true))

  // ---------- q293–q295: PQ index lifecycle ----------

  /** Reopen the stored PQ artifact's model halves. */
  private def reopenPq(spark: SparkSession, work: String)
      : (graft.similarity.PqIndex.Model, graft.similarity.IvfIndex.Model) = {
    val bookRows = spark.read.parquet(s"$work/codebooks")
      .orderBy("sub", "j").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val books = bookRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    val cents = spark.read.parquet(s"$work/centroids")
      .orderBy("cell_id").collect().map(_.getSeq[Double](1).toSeq).toSeq
    (graft.similarity.PqIndex.Model(books), graft.similarity.IvfIndex.Model(cents))
  }

  /** Write the full PQ artifact (codebooks + coarse centroids +
    * encoded corpus) to `work`. */
  private def persistPq(spark: SparkSession, dir: String, work: String): Unit = {
    import spark.implicits._
    val model = pqModel(spark, dir)
    val ivf = ivfModel(spark, dir, k = 16)
    model.codebooks.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (c, j) => (sub, j, c) }
    }.toDF("sub", "j", "centroid").write.parquet(s"$work/codebooks")
    ivf.centroids.zipWithIndex.map { case (c, j) => (j, c) }
      .toDF("cell_id", "centroid").write.parquet(s"$work/centroids")
    pqEncodedCorpus(spark, dir).write.parquet(s"$work/codes")
  }

  /** PQ index PERSIST — the lifecycle leg that makes q112's composed
    * structure a stored artifact like its three siblings (signatures
    * q76, BM25 q84, IVF q96): codebooks (m·ksub tiny centroids),
    * coarse centroids, and the encoded corpus (n_id, cell, 8 codes —
    * 64× smaller than the float embeddings, THE point of PQ at
    * 100 TB) all land in parquet; search reopens EVERYTHING from
    * storage and must equal the fresh-train q112 row for row
    * (training is deterministic — Round15OpsSpec pins it). Rows-only
    * at the driver (k-means floats, q42's family).
    */
  def q293_pq_index_persist(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q293-") { work =>
      persistPq(spark, dir, work)
      val (model, ivf) = reopenPq(spark, work)
      val codes = spark.read.parquet(s"$work/codes")
        .repartition(spark.sparkContext.defaultParallelism)
      pqRerank(spark, dir,
        pqAdcCandidatesFrom(spark, dir, model, ivf, codes, lit(true)),
        lit(true))
    }

  /** PQ index ERASURE — q252's tombstone discipline on the code
    * table: the request lands as a tombstone table, reads mask the
    * codes with ONE vec_id-keyed anti-join, no code file is
    * rewritten. The codebooks and coarse quantizer are FROZEN (like
    * q252's quantizer, they never depended on the erased rows'
    * membership), so masked ≡ rebuild-without EXACTLY —
    * Round15OpsSpec pins that equivalence. The `er13|` eighth plays
    * the request, matching q252.
    */
  def q294_pq_erasure(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q294-") { work =>
      persistPq(spark, dir, work)
      emb(spark, dir).filter(ivfErased(col("vec_id")))
        .select(col("vec_id").as("t_id"))
        .write.parquet(s"$work/tombstones")
      val (model, ivf) = reopenPq(spark, work)
      val tombs = spark.read.parquet(s"$work/tombstones")
      val masked = spark.read.parquet(s"$work/codes")
        .join(tombs, col("n_id") === col("t_id"), "left_anti")
        .repartition(spark.sparkContext.defaultParallelism)
      val alive = !ivfErased(col("vec_id"))
      pqRerank(spark, dir,
        pqAdcCandidatesFrom(spark, dir, model, ivf, masked, alive), alive)
    }

  /** PQ index COMPACTION — q287's closing step for the code table:
    * rewrite the codes WITHOUT the tombstoned rows (stored cell ids
    * and codes are reused verbatim — no re-encoding, no quantizer
    * re-run) and probe with NO mask; must equal the masked read
    * bit-for-bit and carry no erased id (Round15OpsSpec pins both).
    * This completes the build/append-or-persist/erase/compact matrix
    * for ALL FOUR index families.
    */
  def q295_pq_compact(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q295-") { work =>
      persistPq(spark, dir, work)
      emb(spark, dir).filter(ivfErased(col("vec_id")))
        .select(col("vec_id").as("t_id"))
        .write.parquet(s"$work/tombstones")
      val tombs = spark.read.parquet(s"$work/tombstones")
      spark.read.parquet(s"$work/codes")
        .join(tombs, col("n_id") === col("t_id"), "left_anti")
        .write.parquet(s"$work/codes_v1")
      val (model, ivf) = reopenPq(spark, work)
      val compacted = spark.read.parquet(s"$work/codes_v1")
        .repartition(spark.sparkContext.defaultParallelism)
      val alive = !ivfErased(col("vec_id"))
      pqRerank(spark, dir,
        pqAdcCandidatesFrom(spark, dir, model, ivf, compacted, alive), alive)
    }

  /** Rebuild-without-erased reference for q294's equivalence spec:
    * codes re-encoded from the surviving vectors with the SAME frozen
    * models, searched by the same surviving queries. */
  private[graft] def pqRebuiltWithout(spark: SparkSession, dir: String): DataFrame = {
    val model = pqModel(spark, dir)
    val ivf = ivfModel(spark, dir, k = 16)
    val alive = !ivfErased(col("vec_id"))
    val codes = pqEncode(model, ivf, emb(spark, dir).filter(alive))
      .repartition(spark.sparkContext.defaultParallelism)
    pqRerank(spark, dir,
      pqAdcCandidatesFrom(spark, dir, model, ivf, codes, alive), alive)
  }

  // ---------- q296: incremental PQ index update ----------

  /** The arriving-batch selector shared with the equivalence spec:
    * ~2/16 of vectors, content-hash chosen (q227's `b73|` split, so
    * the IVF and PQ append legs exercise the same ingest shape). */
  private[graft] def pqIsBatch(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(md5(concat(lit("b73|"), idCol.cast("string"))), 1, 1)
      .isin("0", "1")

  /** q296's flow against a caller-owned work dir — factored so
    * Round16OpsSpec can inspect the stored code table (base AND
    * appended partitions non-empty) before cleanup. */
  private[graft] def pqUpdateFlow(
      spark: SparkSession, dir: String, work: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val existing = e.filter(!pqIsBatch(col("vec_id")))
    // build: BOTH model halves (codebooks + coarse quantizer) train on
    // the EXISTING corpus only and are frozen — retraining per ingest
    // would re-encode every stored row, the thing a 100 TB code table
    // can never afford (q227's rule, applied to the second half too)
    val model = graft.similarity.PqIndex.train(existing, "v", m = 8, ksub = 16,
      sampleIdCol = Some("vec_id"))
    val ivf = graft.similarity.IvfIndex.train(existing, "v", k = 16,
      sampleIdCol = Some("vec_id"))
    model.codebooks.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (c, j) => (sub, j, c) }
    }.toDF("sub", "j", "centroid").write.parquet(s"$work/codebooks")
    ivf.centroids.zipWithIndex.map { case (c, j) => (j, c) }
      .toDF("cell_id", "centroid").write.parquet(s"$work/centroids")
    pqEncode(model, ivf, existing).write.parquet(s"$work/codes")
    // ingest: the batch encodes with the REOPENED frozen models
    // (never the in-memory ones) and APPENDS as new files — no stored
    // code is read or rewritten
    val (stored, storedIvf) = reopenPq(spark, work)
    pqEncode(stored, storedIvf, e.filter(pqIsBatch(col("vec_id"))))
      .write.mode("append").parquet(s"$work/codes")
    // search: q112's ADC probe + exact rerank against the MERGED table
    val codes = spark.read.parquet(s"$work/codes")
      .repartition(spark.sparkContext.defaultParallelism)
    pqRerank(spark, dir,
      pqAdcCandidatesFrom(spark, dir, stored, storedIvf, codes, lit(true)),
      lit(true))
  }

  /** Index MAINTENANCE for the PQ artifact — the leg that closes the
    * 4-family × 4-operation lifecycle matrix (signatures q94, BM25
    * q224, IVF q227 all had incremental update; PQ had persist/erase/
    * compact only): an arriving batch is encoded with the FROZEN,
    * reopened codebooks + coarse quantizer and its codes APPEND as new
    * files; search runs against the merged code table. Because
    * neither model half depends on the new rows' membership, append
    * IS the correct merge — Round16OpsSpec pins the merged search
    * equal row-for-row (exceptAll both ways) to a single-shot encode
    * of the whole corpus under the same models, and that both code
    * partitions are non-empty. Rows-only at the driver (k-means
    * floats, q42's family).
    *
    * Scale shape: train-once on the existing side (bounded sample
    * collect), one batch-sized encode scan, file append; the ADC
    * probe is q112's bucket-bounded plan unchanged. Codebook drift
    * under sustained ingest triggers a new index GENERATION (version
    * bump), never an in-place retrain — q227's operational rule.
    */
  def q296_pq_index_update(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q296-")(pqUpdateFlow(spark, dir, _))

  /** q321: PQ ingest as a STREAM — the last of the five index
    * families to stream (LM q309, BM25 q316, signatures q317, IVF
    * q320): each micro-batch of arriving vectors is ENCODED with the
    * reopened frozen codebooks + coarse quantizer and its codes
    * append as new files; neither model half depends on the new rows'
    * membership, so per-batch append is the correct merge. After the
    * drain, the ADC probe + exact rerank over the merged code table
    * must equal q296's batch append row for row (Round17OpsSpec,
    * exceptAll both ways). This completes the 5-family streaming-
    * ingest matrix. Rows-only at the driver (k-means floats, q42's
    * family).
    *
    * Scale shape: per micro-batch, one batch-sized encode scan + a
    * file append; search is q112's bucket-bounded ADC plan unchanged.
    */
  def q321_stream_pq_ingest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.io.Scratch.scoped(spark, "graft-q321-") { work =>
      val e = emb(spark, dir)
      val existing = e.filter(!pqIsBatch(col("vec_id")))
      // build: BOTH model halves train on the EXISTING corpus, frozen
      // (q296's rule)
      val model = graft.similarity.PqIndex.train(existing, "v", m = 8, ksub = 16,
        sampleIdCol = Some("vec_id"))
      val ivf = graft.similarity.IvfIndex.train(existing, "v", k = 16,
        sampleIdCol = Some("vec_id"))
      model.codebooks.zipWithIndex.flatMap { case (book, sub) =>
        book.zipWithIndex.map { case (c, j) => (sub, j, c) }
      }.toDF("sub", "j", "centroid").write.parquet(s"$work/codebooks")
      ivf.centroids.zipWithIndex.map { case (c, j) => (j, c) }
        .toDF("cell_id", "centroid").write.parquet(s"$work/centroids")
      graft.io.BatchLog.base(pqEncode(model, ivf, existing), s"$work/codes")
      // both stored model halves reopen ONCE, before the stream starts
      val (stored, storedIvf) = reopenPq(spark, work)
      val feed = Tables.load(spark, dir, "embeddings")
        .filter(pqIsBatch(col("vec_id")))
      CurationFlow.stageTwoBatches(spark, work, feed, "vec_id",
        feed = Some(dir -> "embeddings-pqbatch"))
      FileFeed.drain(spark, s"$work/incoming", feed.schema, s"$work/ckpt")(
        _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          // batchId-keyed idempotent append (foreachBatch is
          // at-least-once; a replayed blind append would duplicate
          // codes and shift ADC candidate ranks vs rebuild)
          graft.io.BatchLog.append(
            pqEncode(stored, storedIvf,
              batch.select(col("vec_id"), V.asDouble(col("embedding")).as("v"))),
            s"$work/codes", batchId)
          ()
        })
      // search: q112's ADC probe + exact rerank against the merged table
      val codes = graft.io.BatchLog.read(spark, s"$work/codes")
        .repartition(spark.sparkContext.defaultParallelism)
      pqRerank(spark, dir,
        pqAdcCandidatesFrom(spark, dir, stored, storedIvf, codes, lit(true)),
        lit(true))
    }
  }

  /** Single-shot rebuild reference for q296's equivalence spec: the
    * SAME existing-trained frozen models encode the WHOLE corpus in
    * one pass (training is deterministic, so retraining on the same
    * existing subset reproduces the stored models exactly). */
  private[graft] def pqUpdateRebuilt(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val existing = e.filter(!pqIsBatch(col("vec_id")))
    val model = graft.similarity.PqIndex.train(existing, "v", m = 8, ksub = 16,
      sampleIdCol = Some("vec_id"))
    val ivf = graft.similarity.IvfIndex.train(existing, "v", k = 16,
      sampleIdCol = Some("vec_id"))
    val codes = pqEncode(model, ivf, e)
      .repartition(spark.sparkContext.defaultParallelism)
    pqRerank(spark, dir,
      pqAdcCandidatesFrom(spark, dir, model, ivf, codes, lit(true)), lit(true))
  }

  // ---------- q138: hard-negative mining ----------

  /** Contrastive hard-negative mining — the retrieval-training twin of
    * q28: for each query vector, the [[hardNegK]] most similar vectors
    * of a DIFFERENT label (the "hard" negatives a contrastive loss
    * learns most from), each with its margin below the query's best
    * same-label positive. A negative with a small (or negative) margin
    * is the informative kind: closer to the anchor than its own class.
    *
    * Scale shape: the bounded query set broadcasts over one corpus
    * stream (q28's rule — the corpus is never shuffled for scoring);
    * positives and negatives come out of the SAME pass via a
    * per-query window max (one q_id-partitioned exchange, |Q| groups)
    * rather than a second scan. At 100 TB with an unbounded query set
    * this becomes the q112 IVF path; the mining semantics on top are
    * unchanged.
    */
  val hardNegK = 3

  def q138_hard_negatives(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), V.norm(col("v")).as("q_nrm"))
    val c = e.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("v").as("nv"), V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val byQ = Window.partitionBy("q_id")
    val negRank = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"), cos.as("cos"))
      .withColumn("pos_best",
        max(when(col("q_label") === col("n_label"), col("cos"))).over(byQ))
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("rk", row_number().over(negRank))
      .filter(col("rk") <= hardNegK)
      .select(col("q_id"), col("rk"), col("n_id"), col("cos"),
        (col("pos_best") - col("cos")).as("margin"))
      .orderBy("q_id", "rk")
  }

  val q138_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.label AS q_label,
       |    c.vec_id AS n_id, c.label AS n_label, $cos AS cos
       |  FROM (SELECT vec_id, label, v AS qv FROM e WHERE vec_id < 50) q,
       |       (SELECT vec_id, label, v AS nv FROM e) c
       |  WHERE q.vec_id <> c.vec_id),
       |marked AS (
       |  SELECT *,
       |    max(CASE WHEN q_label = n_label THEN cos END)
       |      OVER (PARTITION BY q_id) AS pos_best
       |  FROM scored)
       |SELECT q_id, rk, n_id, cos, pos_best - cos AS margin FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
       |  FROM marked WHERE q_label <> n_label)
       |WHERE rk <= $hardNegK ORDER BY q_id, rk""".stripMargin
  }

  // ---------- q151: margin-based neighbor scoring ----------

  /** k for the margin's local-density normalizer. */
  val marginK = 4

  /** Margin-based similarity scoring (Artetxe & Schwenk 2019 — the
    * CCMatrix/LASER bitext-mining criterion): raw cosine over-selects
    * in DENSE regions of embedding space, so each pair is rescored by
    * its cosine relative to both endpoints' local density,
    * `margin(x,y) = cos(x,y) / (avg kNN-cos of x + avg kNN-cos of y)`.
    * A mediocre cosine in a sparse region outranks a high cosine
    * inside a hub — the correction that makes mined pairs precise.
    * Arithmetic: cosines are floor-scaled to 10⁹ integers FIRST
    * (bit-identical doubles by the q28 fold rule, floor is exact),
    * then the margin is `(cs·2k·10⁶) DIV (qk + nk)` — pure integers,
    * so an operator built on kNN AVERAGES still hash-matches DuckDB.
    * Top-3 margin-ranked matches per query.
    *
    * Scale shape: the bounded query set broadcasts over one corpus
    * stream (q28's rule); BOTH density normalizers come out of that
    * single scored stream via two windows (per-query kNN over
    * corpus candidates; per-candidate kNN over the query set — the
    * same |Q|·N rows partitioned the other way), so no second corpus
    * pass. At an unbounded query set the scored stream comes from the
    * q112 IVF path instead; the margin algebra on top is unchanged.
    */
  def q151_margin(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), V.norm(col("v")).as("q_nrm"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("nv"), V.norm(col("v")).as("n_nrm"))
    val cs = floor(V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
      * 1000000000L).cast("long")
    val scored = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cs.as("cs"))
    val wq = Window.partitionBy("q_id").orderBy(col("cs").desc, col("n_id").asc)
    val wn = Window.partitionBy("n_id").orderBy(col("cs").desc, col("q_id").asc)
    // measured and rejected (r19 second pass): cutting the
    // scored+ranked stream (the |Q|·N cosine compute feeds three plan
    // copies) saves two re-derivations, but those copies schedule
    // concurrently on idle cores (guide §2.6) and the materialization
    // cost exceeded the saving at sf0.1/32cpu (warm medians 1.15 →
    // 1.30 s); the three-branch shape stands
    val ranked = scored
      .withColumn("rq", row_number().over(wq))
      .withColumn("rn", row_number().over(wn))
    val qk = ranked.filter(col("rq") <= marginK)
      .groupBy("q_id").agg(sum(col("cs")).as("qk"))
    val nk = ranked.filter(col("rn") <= marginK)
      .groupBy("n_id").agg(sum(col("cs")).as("nk"))
    val wm = Window.partitionBy("q_id")
      .orderBy(col("margin_ppm").desc, col("n_id").asc)
    scored
      .join(broadcast(qk), "q_id")
      .join(nk, "n_id")
      .filter(col("qk") + col("nk") > 0)
      .withColumn("margin_ppm",
        expr(s"(cs * ${2 * marginK} * 1000000) DIV (qk + nk)"))
      .withColumn("mrk", row_number().over(wm))
      .filter(col("mrk") <= 3)
      .select("q_id", "mrk", "n_id", "cs", "margin_ppm")
      .orderBy("q_id", "mrk")
  }

  val q151_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    CAST(floor(($cos) * 1000000000) AS BIGINT) AS cs
       |  FROM (SELECT vec_id, v AS qv FROM e WHERE vec_id < 50) q,
       |       (SELECT vec_id, v AS nv FROM e) c
       |  WHERE q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id ASC) AS rq,
       |    row_number() OVER (PARTITION BY n_id ORDER BY cs DESC, q_id ASC) AS rn
       |  FROM scored),
       |qk AS (SELECT q_id, CAST(sum(cs) AS BIGINT) AS qk FROM ranked
       |       WHERE rq <= $marginK GROUP BY q_id),
       |nk AS (SELECT n_id, CAST(sum(cs) AS BIGINT) AS nk FROM ranked
       |       WHERE rn <= $marginK GROUP BY n_id)
       |SELECT q_id, mrk, n_id, cs, margin_ppm FROM (
       |  SELECT s.q_id, s.n_id, s.cs,
       |    (s.cs * ${2 * marginK} * 1000000) // (qk.qk + nk.nk) AS margin_ppm,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY (s.cs * ${2 * marginK} * 1000000) // (qk.qk + nk.nk) DESC,
       |        s.n_id ASC) AS mrk
       |  FROM scored s
       |  JOIN qk ON qk.q_id = s.q_id
       |  JOIN nk ON nk.n_id = s.n_id
       |  WHERE qk.qk + nk.nk > 0)
       |WHERE mrk <= 3 ORDER BY q_id, mrk""".stripMargin
  }

  // ---------- q167: embedding-space density outliers ----------

  /** Isolation threshold: a vector whose LSH bucket holds ≤ this many
    * vectors (including itself) is flagged. */
  val densityOutlierMax = 2L

  /** Embedding-space density outliers — the data-cleaning sweep that
    * catches mis-embedded / out-of-distribution vectors BEFORE they
    * poison ANN training: density ≈ the population of a vector's
    * 8-plane LSH bucket (a fixed 256-cell deterministic partition —
    * deliberately NOT the adaptive width q29/q30 use, because the
    * report's density semantics are defined at a fixed resolution),
    * and a vector nearly alone in its cell is
    * isolated at the bucket granularity. One bucket projection + one
    * bucket-sized count + a broadcast join back — NO pairwise work at
    * any corpus size, which is what makes a density sweep feasible
    * where a true kNN-distance outlier pass costs a q28 scan per row.
    */
  def q167_embedding_outliers(spark: SparkSession, dir: String): DataFrame = {
    val b = emb(spark, dir)
      .select(col("vec_id"), V.lshBucket(col("v"), planes).as("bucket"))
    val dens = b.groupBy("bucket").agg(count(lit(1)).cast("long").as("density"))
    b.join(broadcast(dens), "bucket")
      .filter(col("density") <= densityOutlierMax)
      .select("vec_id", "bucket", "density")
      .orderBy("vec_id")
  }

  val q167_oracle: String = {
    val bucket = V.lshBucketSql("v", planes)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |b AS (SELECT vec_id, $bucket AS bucket FROM e),
       |d AS (SELECT bucket, CAST(count(*) AS BIGINT) AS density FROM b GROUP BY bucket)
       |SELECT vec_id, bucket, density
       |FROM b JOIN d USING (bucket)
       |WHERE density <= $densityOutlierMax
       |ORDER BY vec_id""".stripMargin
  }

  // ---------- q180: kNN classifier evaluation ----------

  /** Votes per classification. */
  val knnClassK = 5

  /** k-NN classification accuracy over the labeled embeddings — the
    * standard "are these embeddings any good" probe (a label that
    * can't be recovered from its neighborhood isn't encoded): each
    * bounded-set query takes the majority label of its 5 exact
    * nearest neighbors (vote argmax total-ordered by (votes desc,
    * label asc); cosine ties broken by n_id — q28's rule), scored
    * against its own label, rolled up per true label in exact ppm.
    *
    * Scale shape: q28's broadcast-query scan produces the neighbor
    * stream; votes/argmax/rollup are |Q|-bounded.
    */
  def q180_knn_classifier(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("v").as("qv"), V.norm(col("v")).as("q_nrm"))
    val c = e.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("v").as("nv"), V.norm(col("v")).as("n_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    val wN = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    val wV = Window.partitionBy("q_id")
      .orderBy(col("votes").desc, col("n_label").asc)
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("true_label"), col("n_id"), col("n_label"),
        cos.as("cos"))
      .withColumn("rk", row_number().over(wN))
      .filter(col("rk") <= knnClassK)
      .groupBy("q_id", "true_label", "n_label")
      .agg(count(lit(1)).cast("long").as("votes"))
      .withColumn("vr", row_number().over(wV))
      .filter(col("vr") === 1)
      .groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).cast("long").as("n_queries"),
        count_if(col("n_label") === col("true_label")).cast("long")
          .as("n_correct"))
      .withColumn("acc_ppm", expr("(n_correct * 1000000) DIV n_queries"))
      .orderBy("label")
  }

  val q180_oracle: String = {
    val cos = V.cosineSql("qv", "nv")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
       |           FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.label AS true_label,
       |    c.vec_id AS n_id, c.label AS n_label, $cos AS cos
       |  FROM (SELECT vec_id, label, v AS qv FROM e WHERE vec_id < 50) q,
       |       (SELECT vec_id, label, v AS nv FROM e) c
       |  WHERE q.vec_id <> c.vec_id),
       |nn AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id ASC) AS rk
       |    FROM scored)
       |  WHERE rk <= $knnClassK),
       |votes AS (
       |  SELECT q_id, true_label, n_label, CAST(count(*) AS BIGINT) AS votes
       |  FROM nn GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT q_id, true_label, n_label FROM votes
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |    ORDER BY votes DESC, n_label ASC) = 1)
       |SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(count(*) FILTER (WHERE n_label = true_label) AS BIGINT)
       |    AS n_correct,
       |  (count(*) FILTER (WHERE n_label = true_label) * 1000000) // count(*)
       |    AS acc_ppm
       |FROM pred GROUP BY true_label ORDER BY label""".stripMargin
  }

  // ---------- q181: nearest-centroid classifier (integer Rocchio) ----------

  /** Nearest-centroid (Rocchio) classification with ZERO floats in
    * the decision: per-label centroids are exact micro-integer means
    * (the q156 floor rule — deterministic under any partial-agg
    * order, which float centroids are NOT), queries score against
    * each centroid by integer dot product, argmax total-ordered by
    * (dot desc, label asc). The confusion-matrix output is the model
    * card for "are the label clusters linearly separated".
    * Unnormalized dot on purpose: normalizing by the centroid norm
    * reintroduces a square root; the spec documents the trade on a
    * fixture where it matters.
    *
    * Scale shape: the centroid table is |labels|·dim rows built by
    * one posexplode partial agg over the corpus; queries join the
    * BROADCAST centroid table by dimension and partial-agg their
    * |Q|·|labels| dots — the corpus is scanned once, queries never
    * shuffle it.
    */
  def q181_centroid_classifier(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val e = emb(spark, dir)
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "c")))
      .select(col("label"), col("dim"),
        floor(col("c") * 1000000L).cast("long").as("cm"))
      .groupBy("label", "dim")
      .agg(expr(s"CAST(sum(CAST(cm AS $dec38)) DIV count(*) AS BIGINT)")
        .as("cent_micro"))
    val qc = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        posexplode(col("v")).as(Seq("dim", "c")))
      .select(col("q_id"), col("true_label"), col("dim"),
        floor(col("c") * 1000000L).cast("long").as("qm"))
    val wPred = Window.partitionBy("q_id")
      .orderBy(col("dot").desc, col("label").asc)
    qc.join(broadcast(cent), "dim")
      .groupBy("q_id", "true_label", "label")
      .agg(sum(col("qm").cast(dec38) * col("cent_micro")).cast(dec38).as("dotd"))
      .select(col("q_id"), col("true_label"), col("label"),
        expr("CAST(dotd AS BIGINT)").as("dot"))
      .withColumn("pr", row_number().over(wPred))
      .filter(col("pr") === 1)
      .groupBy(col("true_label"), col("label").as("predicted"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy("true_label", "predicted")
  }

  val q181_oracle: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
       |           FROM embeddings),
       |comp AS (
       |  SELECT label, g.i - 1 AS dim,
       |    CAST(floor(v[g.i] * 1000000) AS BIGINT) AS cm
       |  FROM e CROSS JOIN generate_series(1, $dim) AS g(i)
       |  WHERE g.i <= len(v)),
       |cent AS (
       |  SELECT label, dim,
       |    CAST(sum(CAST(cm AS HUGEINT)) // count(*) AS BIGINT) AS cent_micro
       |  FROM comp GROUP BY 1, 2),
       |qc AS (
       |  SELECT vec_id AS q_id, label AS true_label, g.i - 1 AS dim,
       |    CAST(floor(v[g.i] * 1000000) AS BIGINT) AS qm
       |  FROM e CROSS JOIN generate_series(1, $dim) AS g(i)
       |  WHERE vec_id < 50 AND g.i <= len(v)),
       |dots AS (
       |  SELECT q_id, true_label, cent.label,
       |    CAST(sum(CAST(qm AS HUGEINT) * cent_micro) AS BIGINT) AS dot
       |  FROM qc JOIN cent USING (dim)
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT q_id, true_label, label FROM dots
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |    ORDER BY dot DESC, label ASC) = 1)
       |SELECT true_label, label AS predicted, CAST(count(*) AS BIGINT) AS n
       |FROM pred GROUP BY 1, 2 ORDER BY true_label, predicted""".stripMargin

  // ---------- q156: embedding-matrix column profile ----------

  /** Per-dimension statistics of the embedding matrix — the
    * feature-store monitoring table (collapsed dimensions, mean
    * shift, range blowout are the standard embedding-pipeline
    * regressions, and this is the table their alerts read): each
    * component is floor-scaled to an exact 10⁶ integer FIRST
    * (float→double is exact, ×10⁶ correctly rounded identically in
    * both engines, floor exact), so sums/moments are pure integers —
    * the ONLY way per-dimension sums over a trillion rows are even
    * deterministic (float accumulation is partial-order-dependent).
    * Variance in micro² units by the q105 cleared form
    * `(n·Q − S²) DIV n²`.
    *
    * Scale shape: one posexplode scan (64·N narrow rows) into a
    * 64-row partial-agg — dimension count bounds the state, corpus
    * size only streams. Products ride decimal(38,0).
    */
  def q156_embedding_profile(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    Tables.load(spark, dir, "embeddings")
      .select(posexplode(V.asDouble(col("embedding"))).as(Seq("dim", "c")))
      .select(col("dim"), floor(col("c") * 1000000L).cast("long").as("cm"))
      .groupBy("dim")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cm").cast(dec38)).as("s"),
        sum(col("cm").cast(dec38) * col("cm")).as("q"),
        min(col("cm")).as("min_micro"),
        max(col("cm")).as("max_micro"))
      .select(col("dim"), col("n"),
        expr("CAST(s DIV n AS BIGINT)").as("mean_micro"),
        expr(s"CAST((CAST(n AS $dec38) * q - s * s) DIV (CAST(n AS $dec38) * n) AS BIGINT)")
          .as("var_micro2"),
        col("min_micro"), col("max_micro"))
      .orderBy("dim")
  }

  val q156_oracle: String =
    s"""WITH c AS (
       |  SELECT g.i - 1 AS dim,
       |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000) AS BIGINT) AS cm
       |  FROM embeddings CROSS JOIN generate_series(1, ${dim}) AS g(i)
       |  WHERE g.i <= len(embedding)),
       |m AS (
       |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(cm AS HUGEINT)) AS HUGEINT) AS s,
       |    CAST(sum(CAST(cm AS HUGEINT) * cm) AS HUGEINT) AS q,
       |    min(cm) AS min_micro, max(cm) AS max_micro
       |  FROM c GROUP BY dim)
       |SELECT dim, n,
       |  CAST(s // n AS BIGINT) AS mean_micro,
       |  CAST((CAST(n AS HUGEINT) * q - s * s) // (CAST(n AS HUGEINT) * n) AS BIGINT)
       |    AS var_micro2,
       |  min_micro, max_micro
       |FROM m ORDER BY dim""".stripMargin

  // ---------- q308: farthest-point diversity sample ----------

  /** Diversity-sample size. */
  val fpsK = 16

  /** Farthest-point (greedy k-center) selection over any (id, v)
    * frame — the diversity-aware data-selection primitive (pick the
    * k most MUTUALLY DISTANT examples, Gonzalez 1985): seed with the
    * smallest id, then repeatedly take the point farthest from
    * everything chosen so far (squared euclidean; ties broken by
    * smallest id, so the result is deterministic). Greedy k-center
    * carries the classic 2-approximation guarantee on the coverage
    * radius — Round16OpsSpec pins it against the brute-force optimum
    * on a fixture, plus one-center-per-cluster on planted clusters.
    *
    * Scale shape: k passes, each ONE narrow map over the corpus and
    * a 1-row argmax collect that CARRIES the winner's vector (no
    * lookup scan per round). The min-distance is a k-deep `least`
    * fold built incrementally — per-row arithmetic only (≤ k dot
    * products at round k, k bounded small by the operator's purpose:
    * diversity seeds, prototype picks, eval probes), so no round
    * caches or checkpoints a corpus-sized copy.
    */
  private[queries] def farthestPoints(
      points: DataFrame, idCol: String, vCol: String, k: Int): Seq[(Long, Double)] = {
    require(k >= 1, s"farthestPoints needs k >= 1, got $k")
    // fewer than k points would silently re-pick already-chosen ids
    // (duplicate ranks, dist_sq 0); an empty frame would throw a bare
    // NoSuchElementException from head() — fail with the real reason
    val n = points.count()
    require(n >= k,
      s"farthestPoints needs at least k=$k points, input has $n")
    val seed = points.orderBy(col(idCol)).select(col(idCol), col(vCol)).head()
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Double)](
      (seed.getLong(0), 0.0))
    def distTo(c: Seq[Double]) =
      V.dot(col(vCol), col(vCol)) -
        V.dot(col(vCol), typedLit(c)) * 2.0 +
        lit(c.map(x => x * x).sum)
    var minD = distTo(seed.getSeq[Double](1))
    while (chosen.size < k) {
      val far = points
        .select(col(idCol), minD.as("__fps_d"), col(vCol))
        .orderBy(col("__fps_d").desc, col(idCol))
        .head()
      chosen += ((far.getLong(0), far.getDouble(1)))
      if (chosen.size < k)
        minD = least(minD, distTo(far.getSeq[Double](2)))
    }
    chosen.toSeq
  }

  /** q308: the [[fpsK]]-point diversity sample of the embeddings
    * table, with selection rank and the (double, engine-specific —
    * rows-only by design) distance-to-chosen-set at selection time.
    */
  def q308_diversity_sample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val picks = farthestPoints(emb(spark, dir), "vec_id", "v", fpsK)
    picks.zipWithIndex
      .map { case ((id, d), r) => (r.toLong, id, d) }
      .toDF("rank", "vec_id", "dist_sq")
  }

  // ---------- q315: embedding centroid drift (integer-exact) ----------

  /** Embedding-space DRIFT between two corpus halves — the vector
    * twin of q141/q142's numeric drift checks, and one of the few
    * embedding queries that can be ORACLE-gated: per label, split the
    * vectors by content hash and compare the two half-centroids
    * coordinate-wise. Exactness comes from q156's micro-int recipe
    * (floor(c·10⁶) per coordinate, integer sums) plus the
    * denominator-clearing rewrite |sa/nₐ − sb/n_b| =
    * |sa·n_b − sb·nₐ|/(nₐ·n_b): every comparison is an integer
    * product in DECIMAL(38,0)/HUGEINT, summed order-independently,
    * with ONE final exact DIV. Reported per label: half sizes, total
    * L1 centroid shift and the worst single coordinate (micro
    * units) — on a stable corpus the halves are exchangeable, so any
    * label whose drift stands out marks a non-random embedding
    * artifact (a batch effect, a re-embedded shard).
    *
    * Scale shape: ONE narrow explode (vec → 64 micro ints) into a
    * (label × dim)-bounded partial agg; the label rollup is
    * dims-sized work. No joins, no floats past the per-coordinate
    * floor.
    */
  def q315_embedding_drift(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val half =
      substring(md5(concat(lit("dr15|"), col("vec_id").cast("string"))), 1, 1) < "8"
    val perDim = Tables.load(spark, dir, "embeddings")
      .select(col("label"), half.as("a"),
        posexplode(V.asDouble(col("embedding"))).as(Seq("dim", "c")))
      .select(col("label"), col("a"), col("dim"),
        floor(col("c") * 1000000L).cast("long").as("cm"))
      .groupBy("label", "dim")
      .agg(
        sum(when(col("a"), col("cm")).otherwise(0L)).cast(dec38).as("sa"),
        sum(when(!col("a"), col("cm")).otherwise(0L)).cast(dec38).as("sb"),
        count(when(col("a"), 1)).cast("long").as("ca"),
        count(when(!col("a"), 1)).cast("long").as("cb"))
    perDim
      .withColumn("dd",
        abs(col("sa") * col("cb").cast(dec38) - col("sb") * col("ca").cast(dec38)))
      .groupBy("label")
      .agg(max(col("ca")).as("n_a"), max(col("cb")).as("n_b"),
        sum(col("dd")).as("l1"), max(col("dd")).as("dmax"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("label"), col("n_a"), col("n_b"),
        expr("CAST(l1 DIV (CAST(n_a AS decimal(38,0)) * n_b) AS BIGINT)")
          .as("l1_drift_micro"),
        expr("CAST(dmax DIV (CAST(n_a AS decimal(38,0)) * n_b) AS BIGINT)")
          .as("max_dim_drift_micro"))
      .orderBy("label")
  }

  val q315_oracle: String =
    s"""WITH c AS (
       |  SELECT label,
       |    substring(md5(concat('dr15|', CAST(vec_id AS VARCHAR))), 1, 1) < '8'
       |      AS a,
       |    g.i - 1 AS dim,
       |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000) AS BIGINT) AS cm
       |  FROM embeddings CROSS JOIN generate_series(1, ${dim}) AS g(i)
       |  WHERE g.i <= len(embedding)),
       |pd AS (
       |  SELECT label, dim,
       |    CAST(sum(CASE WHEN a THEN cm ELSE 0 END) AS HUGEINT) AS sa,
       |    CAST(sum(CASE WHEN NOT a THEN cm ELSE 0 END) AS HUGEINT) AS sb,
       |    CAST(count(CASE WHEN a THEN 1 END) AS BIGINT) AS ca,
       |    CAST(count(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS cb
       |  FROM c GROUP BY label, dim),
       |d AS (
       |  SELECT label, ca, cb, abs(sa * cb - sb * ca) AS dd FROM pd),
       |l AS (
       |  SELECT label, max(ca) AS n_a, max(cb) AS n_b,
       |    CAST(sum(dd) AS HUGEINT) AS l1, CAST(max(dd) AS HUGEINT) AS dmax
       |  FROM d GROUP BY label)
       |SELECT label, n_a, n_b,
       |  CAST(l1 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
       |    AS l1_drift_micro,
       |  CAST(dmax // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
       |    AS max_dim_drift_micro
       |FROM l WHERE n_a > 0 AND n_b > 0
       |ORDER BY label""".stripMargin

  // ---------- q312: diversity-sample assignment / coverage audit ----------

  /** The USE of q308's picks: assign every vector to its nearest
    * chosen center and report per center the assigned population and
    * the coverage radius (max squared distance) — the audit that says
    * whether k diversity seeds actually cover the corpus (the k-center
    * objective itself) and how the mass splits across them (the
    * stratification a diversity-balanced sampler draws from).
    *
    * Scale shape: ONE corpus pass — the k centers ship as a single
    * nested-array literal scored by a transform + array_min (the
    * q87 quantizer's k-independent plan spelling; k·dim doubles of
    * payload, k bounded small by the operator's purpose), and the
    * report is ONE partial-agg shuffle to k rows. Argmin ties break
    * to the lower selection rank on exact score equality.
    */
  def q312_diversity_assign(spark: SparkSession, dir: String): DataFrame = {
    val pts = emb(spark, dir)
    val picks = farthestPoints(pts, "vec_id", "v", fpsK)
    val ids = picks.map(_._1)
    val byId = pts.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val centers: Seq[Seq[Double]] = ids.map(byId)
    val norms: Seq[Double] = centers.map(_.map(x => x * x).sum)
    val scored = transform(typedLit(centers), (c, j) =>
      struct((V.dot(col("v"), c) * -2.0 +
        element_at(typedLit(norms), j + 1)).as("s"), j.as("j")))
    val best = array_min(scored)
    pts
      .withColumn("rank", best.getField("j").cast("long"))
      .withColumn("d2", best.getField("s") + V.dot(col("v"), col("v")))
      .groupBy("rank")
      .agg(count(lit(1)).cast("long").as("n_assigned"),
        max(col("d2")).as("radius_sq"))
      .withColumn("center_id",
        element_at(typedLit(ids), col("rank").cast("int") + 1))
      .select("rank", "center_id", "n_assigned", "radius_sq")
      .orderBy("rank")
  }

  // ---------- q333: incremental semantic dedup against the stored index ----------

  /** q333's flow against a caller-owned work dir, factored so
    * Round18OpsSpec can both drive it and audit the stored artifact.
    * See [[q333_incremental_semdedup]].
    */
  private[queries] def semDedupIncrementalAt(
      spark: SparkSession, dir: String, work: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val existing = e.filter(!pqIsBatch(col("vec_id")))
    // build ONCE over the existing corpus: the frozen two-level
    // quantizer (q87's k = N/500 design point on the EXISTING count)
    // and the assigned inverted file — the stored artifact a real
    // deployment keeps and never re-derives per arriving batch
    val k = semDedupK(existing.count())
    val model = graft.similarity.IvfIndex.trainTwoLevel(existing, "v", k = k,
      sampleIdCol = Some("vec_id"))
    model.top.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("top_id", "centroid").write.parquet(s"$work/top")
    model.fine.zipWithIndex.flatMap { case (book, i) =>
      book.zipWithIndex.map { case (c, j) => (i, j, c) }
    }.toDF("top_id", "j", "centroid").write.parquet(s"$work/fine")
    model.assignCells(
        existing.withColumn("topcell", model.topCell(col("v"))),
        "topcell", "v", "cell")
      .select(col("vec_id"), col("cell"), col("v"), V.norm(col("v")).as("nrm"))
      .write.parquet(s"$work/postings")
    // reopen: BOTH model halves and the inverted file come from storage
    val top = spark.read.parquet(s"$work/top")
      .orderBy("top_id").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val fine = spark.read.parquet(s"$work/fine")
      .orderBy("top_id", "j").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    val stored = graft.similarity.IvfIndex.TwoLevelModel(top, fine)
    val postings = spark.read.parquet(s"$work/postings")
      .select(col("vec_id").as("a_id"), col("cell"),
        col("v").as("nv"), col("nrm").as("n_nrm"))
    // the batch probes: assign each arriving vector to its stored
    // cell, compare against that cell's existing members only —
    // O(batch × occupancy), never a corpus re-cluster
    val probes = stored.assignCells(
        e.filter(pqIsBatch(col("vec_id")))
          .withColumn("topcell", stored.topCell(col("v"))),
        "topcell", "v", "cell")
      .select(col("vec_id").as("b_id"), col("cell"),
        col("v").as("qv"), V.norm(col("v")).as("q_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    probes.join(postings.hint("shuffle_hash"), Seq("cell"))
      .select(col("b_id"), col("a_id"), cos.as("cos"))
      .filter(col("cos") > nearDupThreshold)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("keep_id"), count(lit(1)).as("n_matches"),
        max(col("cos")).as("max_cos"))
      .withColumnRenamed("b_id", "dup_id")
      .orderBy("dup_id")
  }

  /** q333: INCREMENTAL SemDeDup — q73's apply-form for the embedding
    * family (the round-17 verdict's open cell (c)): a new batch of
    * vectors is checked for semantic near-duplicates against the
    * EXISTING corpus's STORED index before ingestion. The two-level
    * quantizer trains on the existing seven-eighths only and is
    * frozen; the quantizer halves and the assigned inverted file
    * persist to parquet and REOPEN from storage; each arriving vector
    * then probes exactly its stored cell's existing members. Output:
    * per duplicated batch vector, the min matching existing id, match
    * count, and best cosine — q87's verdict shape restricted to
    * batch-vs-existing.
    *
    * Rows-only like the whole trained-float family; Round18OpsSpec
    * pins it ≡ a rebuild-on-union reference (the SAME deterministic
    * existing-trained model assigning the union in one pass,
    * exceptAll both ways), so the stored-index path can never drift
    * from recomputation.
    *
    * Scale shape: one existing-corpus assignment pass at build time;
    * per batch, O(batch × cell occupancy ≈ 500) candidate work —
    * independent of corpus size, the property the funnel's
    * per-funnel q87 re-cluster lacks.
    */
  def q333_incremental_semdedup(spark: SparkSession, dir: String): DataFrame =
    graft.io.Scratch.scoped(spark, "graft-q333-")(semDedupIncrementalAt(spark, dir, _))

  /** The rebuild-on-union reference for q333's equivalence spec: the
    * SAME frozen existing-trained quantizer assigns existing AND batch
    * in one pass (training is deterministic, so retraining on the same
    * existing subset reproduces the stored model exactly — q296's
    * rule), pairs restricted to existing×batch.
    */
  private[queries] def semDedupIncrementalRebuilt(
      spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val existing = e.filter(!pqIsBatch(col("vec_id")))
    val k = semDedupK(existing.count())
    val model = graft.similarity.IvfIndex.trainTwoLevel(existing, "v", k = k,
      sampleIdCol = Some("vec_id"))
    val assigned = model.assignCells(
        e.withColumn("topcell", model.topCell(col("v"))), "topcell", "v", "cell")
      .select(col("vec_id"), col("cell"), col("v"), V.norm(col("v")).as("nrm"))
    val a = assigned.filter(!pqIsBatch(col("vec_id")))
      .select(col("cell"), col("vec_id").as("a_id"),
        col("v").as("nv"), col("nrm").as("n_nrm"))
    val b = assigned.filter(pqIsBatch(col("vec_id")))
      .select(col("cell"), col("vec_id").as("b_id"),
        col("v").as("qv"), col("nrm").as("q_nrm"))
    val cos = V.cosineWithNorms(col("qv"), col("nv"), col("q_nrm"), col("n_nrm"))
    b.join(a.hint("shuffle_hash"), Seq("cell"))
      .select(col("b_id"), col("a_id"), cos.as("cos"))
      .filter(col("cos") > nearDupThreshold)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("keep_id"), count(lit(1)).as("n_matches"),
        max(col("cos")).as("max_cos"))
      .withColumnRenamed("b_id", "dup_id")
      .orderBy("dup_id")
  }

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q312_diversity_assign" -> (q312_diversity_assign _),
    "q315_embedding_drift" -> (q315_embedding_drift _),
    "q308_diversity_sample" -> (q308_diversity_sample _),
    "q156_embedding_profile" -> (q156_embedding_profile _),
    "q167_embedding_outliers" -> (q167_embedding_outliers _),
    "q180_knn_classifier" -> (q180_knn_classifier _),
    "q181_centroid_classifier" -> (q181_centroid_classifier _),
    "q151_margin" -> (q151_margin _),
    "q138_hard_negatives" -> (q138_hard_negatives _),
    "q87_semdedup" -> (q87_semdedup _),
    "q79_knn_quantized" -> (q79_knn_quantized _),
    "q28_knn_bruteforce" -> (q28_knn_bruteforce _),
    "q29_knn_lsh" -> (q29_knn_lsh _),
    "q30_embedding_dedup" -> (q30_embedding_dedup _),
    // q42 has no oracle on purpose: k-means training is engine-
    // specific; IvfIndexSpec bounds recall against brute force
    "q42_knn_ivf" -> (q42_knn_ivf _),
    // q96 rows-only for the same reason; IvfPersistSpec pins
    // stored-index search == fresh-build search row for row
    "q96_ivf_index_persist" -> (q96_ivf_index_persist _),
    "q227_ivf_index_update" -> (q227_ivf_index_update _),
    // q320/q321 rows-only like q227/q296 (same frozen trained floats);
    // Round17OpsSpec pins streamed ingest == batch append row for row
    "q320_stream_ivf_ingest" -> (q320_stream_ivf_ingest _),
    "q321_stream_pq_ingest" -> (q321_stream_pq_ingest _),
    "q252_ivf_erasure" -> (q252_ivf_erasure _),
    "q287_ivf_compact" -> (q287_ivf_compact _),
    "q293_pq_index_persist" -> (q293_pq_index_persist _),
    "q294_pq_erasure" -> (q294_pq_erasure _),
    "q295_pq_compact" -> (q295_pq_compact _),
    "q296_pq_index_update" -> (q296_pq_index_update _),
    "q70_knn_lsh_multiprobe" -> (q70_knn_lsh_multiprobe _),
    "q106_semantic_decontam" -> (q106_semantic_decontam _),
    // q112 rows-only like q42/q96: trained floats have no SQL twin;
    // PqIndexSpec bounds ADC+rerank recall against brute force
    "q112_knn_ivfpq" -> (q112_knn_ivfpq _),
    // q333 rows-only (trained floats); Round18OpsSpec pins the
    // stored-index probe == rebuild-on-union, exceptAll both ways
    "q333_incremental_semdedup" -> (q333_incremental_semdedup _),
    "q334_semantic_decontam_bounded" -> (q334_semantic_decontam_bounded _))

  val oracles: Map[String, String] = Map(
    "q156_embedding_profile" -> q156_oracle,
    "q315_embedding_drift" -> q315_oracle,
    "q167_embedding_outliers" -> q167_oracle,
    "q180_knn_classifier" -> q180_oracle,
    "q181_centroid_classifier" -> q181_oracle,
    "q151_margin" -> q151_oracle,
    "q138_hard_negatives" -> q138_oracle,
    "q79_knn_quantized" -> q79_oracle,
    "q28_knn_bruteforce" -> q28_oracle,
    "q29_knn_lsh" -> q29_oracle,
    "q30_embedding_dedup" -> q30_oracle,
    "q70_knn_lsh_multiprobe" -> q70_oracle,
    "q106_semantic_decontam" -> q106_oracle,
    "q334_semantic_decontam_bounded" -> q334_oracle)
}
