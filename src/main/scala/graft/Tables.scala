package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loads the driver-generated testdata tables (see TESTDATA.md).
  *
  * All tables are plain parquet files under a scale-factor directory.
  * At cluster scale the same code reads any Hadoop-FS path (s3a/gs/hdfs);
  * nothing here is local-filesystem specific.
  *
  * IMMUTABILITY CONTRACT: a scale-factor directory is read-only for
  * the lifetime of the JVM. [[graft.io.Artifacts]] memoizes derived
  * state keyed by `dir` for the whole process and checks the contract:
  * every hit re-lists the dir and fails loudly if it changed since the
  * build. A writer of a changed corpus must use a fresh dir.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // The physical type of events.ts has varied across testdata
      // vintages: parquet TIMESTAMP(NANOS) (which Spark 4 rejects
      // outright without nanosAsLong) and plain timestamp[us]
      // (read as TIMESTAMP_NTZ). Branch on the loaded schema so
      // either vintage yields the same session-TZ TIMESTAMP column.
      // The conf is consulted only during eager schema inference in
      // load(), so it can be restored immediately after — later reads
      // in the same session keep their own semantics.
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try {
        val df = spark.read.parquet(s"$dir/$name.parquet")
        df.schema("ts").dataType match {
          case LongType =>
            // nanos-as-long regime: floor-divide to micros — the same
            // truncation DuckDB applies loading nanosecond parquet.
            df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
          case TimestampNTZType =>
            // timestamp[us] without UTC adjustment: the wall-clock is
            // already what we want; under the UTC session the cast is
            // a pure re-tag, so windows / date math / DuckDB oracles
            // see identical instants.
            df.withColumn("ts", col("ts").cast(TimestampType))
          case _ => df
        }
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Register every table as a temp view for SQL access. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
