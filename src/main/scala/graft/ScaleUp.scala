package graft

import graft.pipeline.RuntimeConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-up harness: writes a `factor`× replica of a testdata
  * directory for measured (not argued) scaling runs —
  * `ScaleUp <srcDir> <dstDir> [factor]`, then point Bench at dstDir.
  *
  * Naive row duplication would NOT measure scaling: 10 identical
  * copies of every document make every doc an exact+near dup of 9
  * others, so candidate-pair operators (q25/q47/q60/q68/q69, q30)
  * would be timed on a pathological corpus where pair count grows
  * ~factor² inside every duplicate group. Each replica is instead
  * perturbed to look like "more data of the same character":
  *
  *   - keys interleave (`id*factor + k`), so per-replica joins stay
  *     consistent and the bounded query sets (doc_id<500, vec_id<50)
  *     keep their SIZE while the corpus grows 10× under them;
  *   - dimension tables (region/nation) do not scale — as in life;
  *   - documents pass through a per-replica letter-substitution
  *     cipher: token/shingle structure, lengths and within-replica
  *     duplicate groups are preserved exactly, but no shingle ever
  *     matches across replicas;
  *   - embeddings are multiplied by a per-replica random ±1 diagonal
  *     (an isometry: every within-replica cosine/norm/bucket identical
  *     in distribution) which decorrelates vectors across replicas;
  *   - events keep their time range and 10× the user population, so
  *     windows hold ~10× sessions of the same length. ts is written
  *     back as int64 nanoseconds, matching the driver's layout that
  *     [[Tables.load]] expects.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    // the document cipher is a 26-letter rotation: factor > 26 would
    // wrap and silently recreate the exact-duplicate corpus this
    // harness exists to avoid
    require(factor >= 1 && factor <= 26, s"factor must be in [1, 26], got $factor")
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def off(c: String): Column = col(c) * factor // + k added per replica

    def replicate(table: String)(perturb: (DataFrame, Int) => DataFrame): Unit = {
      val b = Tables.load(spark, src, table)
      (0 until factor).map(k => perturb(b, k)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"scaled $table x$factor")
    }

    Seq("region", "nation").foreach { t =>
      Tables.load(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    replicate("customer")((df, k) => df.withColumn("c_custkey", off("c_custkey") + k))
    replicate("supplier")((df, k) => df.withColumn("s_suppkey", off("s_suppkey") + k))
    replicate("part")((df, k) => df.withColumn("p_partkey", off("p_partkey") + k))
    replicate("orders")((df, k) => df
      .withColumn("o_orderkey", off("o_orderkey") + k)
      .withColumn("o_custkey", off("o_custkey") + k))
    replicate("lineitem")((df, k) => df
      .withColumn("l_orderkey", off("l_orderkey") + k)
      .withColumn("l_partkey", off("l_partkey") + k)
      .withColumn("l_suppkey", off("l_suppkey") + k))
    replicate("events")((df, k) => df
      .withColumn("event_id", off("event_id") + k)
      .withColumn("user_id", off("user_id") + k)
      .withColumn("ts", expr("unix_micros(ts) * 1000L")))
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    def rot(s: String, k: Int) = s.indices.map(i => s((i + k) % 26)).mkString
    replicate("documents")((df, k) => df
      .withColumn("doc_id", off("doc_id") + k)
      .withColumn("text", translate(col("text"), lower + upper, rot(lower, k) + rot(upper, k))))
    def flips(k: Int): Seq[Double] =
      (0 until 64).map(i => graft.functions.VectorFunctions.signFromMd5(s"flip-$k|$i"))
    replicate("embeddings")((df, k) => df
      .withColumn("vec_id", off("vec_id") + k)
      .withColumn("embedding",
        zip_with(col("embedding"), array(flips(k).map(lit): _*),
          (x, s) => x * s).cast("array<float>")))

    spark.stop()
  }
}

/** ANN-family scale-up: replicates ONLY the embeddings table, at
  * factors far beyond [[ScaleUp]]'s 26× document-cipher cap —
  * `AnnScaleUp <srcDir> <dstDir> [factor]` (default 100). Each
  * replica is decorrelated by its own md5-seeded ±1 diagonal (an
  * isometry — within-replica cosines, norms and cell geometry are
  * preserved exactly; cross-replica cosines are random-sign sums that
  * concentrate near 0), and keys interleave so the bounded query sets
  * (vec_id < 50) keep their size while the corpus grows under them.
  *
  * Purpose (round-15 VERDICT watch): SemDeDup's k = N/500 design
  * point means the quantizer's codebook PAYLOAD grows with the
  * corpus. The plan-node fix made the expression tree O(1) in k; the
  * shipping fix swaps the data literal for a broadcast table past
  * 128k doubles. This harness produces corpora big enough that q87
  * actually crosses that cap on REAL replica data (sf0.1 × 1000 →
  * 2M vectors, k = 4000, 256k doubles → broadcast path), so the
  * remaining watch — shipped bytes at design-point k — is retired by
  * measurement, not argument: point Bench at the output dir and run
  * the ANN/PQ rows.
  */
/** Text-family scale-up: scales ONLY the documents table, at factors
  * beyond [[ScaleUp]]'s 26× rotation cap — `TextScaleUp <srcDir>
  * <dstDir> [factor]` (default 100). The rotation cipher has exactly
  * 26 keys, so factor 27 would wrap and recreate the exact-duplicate
  * corpus the harness exists to avoid; each replica here instead gets
  * its own full substitution cipher — the 26 letters reordered by
  * their per-replica salted md5 (26! keys; replica 0 is the identity,
  * so the source corpus rides along verbatim). As with the rotation:
  * token/shingle structure, lengths and within-replica duplicate
  * groups are preserved exactly, and two replicas share a shingle only
  * if their ciphers agree on every letter in it (~26^-m for m distinct
  * letters — never observed in practice). Keys interleave
  * (`doc_id·factor + k`) so the bounded query sets keep their SIZE
  * while the corpus grows under them, matching [[ScaleUp]]'s encoding.
  *
  * Purpose (round-17 VERDICT item 7b): measure the text-dedup family
  * (q143/q72/q306 and the shingle-index rows) at 100×+, past the 26×
  * point `BENCH_text26x_*.json` records. Every other table is copied
  * VERBATIM as raw bytes (no Spark round-trip — the events table's
  * nanos layout survives untouched), so the output dir is a complete
  * sf dir any query can read.
  */
object TextScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TextScaleUp <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 100
    require(factor >= 1, s"factor must be positive, got $factor")
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dst).getFileSystem(conf)
    Tables.names.filterNot(_ == "documents").foreach { t =>
      val s = new Path(s"$src/$t.parquet")
      val d = new Path(s"$dst/$t.parquet")
      if (fs.exists(d)) fs.delete(d, true)
      FileUtil.copy(fs, s, fs, d, false, conf)
      println(s"copied $t verbatim")
    }

    val lower = ('a' to 'z').mkString
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def perm(k: Int): String =
      if (k == 0) lower
      else lower.sortBy(c => md5hex(s"perm-$k|$c"))
    val b = Tables.load(spark, src, "documents")
    (0 until factor).map { k =>
      val p = perm(k)
      b.withColumn("doc_id", col("doc_id") * factor + k)
        .withColumn("text",
          translate(col("text"), lower + lower.toUpperCase, p + p.toUpperCase))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"scaled documents x$factor")
    spark.stop()
  }
}

object AnnScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AnnScaleUp <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 100
    require(factor >= 1, s"factor must be positive, got $factor")
    val spark = RuntimeConfig.fromEnv().sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def flips(k: Int): Seq[Double] =
      (0 until 64).map(i => graft.functions.VectorFunctions.signFromMd5(s"flip-$k|$i"))
    val b = Tables.load(spark, src, "embeddings")
    // Replica 0 is the SOURCE DATA VERBATIM and later replicas stack
    // ABOVE the original id range (vec_id + k·N, not vec_id·factor+k):
    // the interleaved encoding would make the bounded query set
    // (vec_id < 50) collapse at factor ≥ 50 to sign-flip variants of
    // source vector 0 alone — a degenerate single-source workload.
    // With block encoding the probes are the 50 original, mutually
    // diverse query vectors at EVERY factor.
    val idStats = b.agg(max(col("vec_id")), min(col("vec_id"))).head()
    // max over an empty source is NULL (opaque NPE from getLong), and
    // a negative vec_id would make replica id ranges overlap
    require(!idStats.isNullAt(0), "empty embeddings source")
    require(idStats.getLong(1) >= 0,
      s"negative vec_id ${idStats.getLong(1)} would overlap replica ranges")
    val maxId = idStats.getLong(0) + 1
    (0 until factor).map { k =>
      val shifted = b.withColumn("vec_id", col("vec_id") + lit(k * maxId))
      if (k == 0) shifted
      else shifted.withColumn("embedding",
        zip_with(col("embedding"), array(flips(k).map(lit): _*),
          (x, s) => x * s).cast("array<float>"))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"scaled embeddings x$factor")
    spark.stop()
  }
}
