package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.multimodal.Multimodal
import graft.queries.{Analytics, BpeTrain, ChangeCapture, ChunkingQueries, ConsistencyQueries, CorpusProfileQueries, CorpusQueries, CurationQueries, DistributionQueries, EventQueries, ExtendedAnalytics, GovernanceQueries, GraphQueries, LanguageModel, MiningQueries, PipelineQueries, RelationalQueries, RetrievalQueries, RichnessQueries, ScrubQueries, StreamingParity, TextQueries, VectorQueries}

/** A family of driver-checked queries: each name's query, and the
  * DuckDB oracle SQL of the names that have one. */
trait QueryFamily {
  val queries: Map[String, (SparkSession, String) => DataFrame]
  val oracles: Map[String, String]
}

/** Driver contract — see /root/repo/SURVEY.md §2 + §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q10_pricing_summary(spark, "/root/testdata/sf0.001")

  private[graft] val families: Seq[QueryFamily] = Seq(
    PipelineQueries, Analytics, TextQueries, VectorQueries, CorpusQueries,
    GraphQueries, ScrubQueries, ExtendedAnalytics, DistributionQueries,
    CurationQueries, EventQueries, StreamingParity, RetrievalQueries,
    ChangeCapture, BpeTrain, Multimodal, GovernanceQueries, LanguageModel,
    MiningQueries, RichnessQueries, ChunkingQueries, RelationalQueries,
    ConsistencyQueries, CorpusProfileQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    union(families)(_.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = union(families)(_.oracles)

  /** The families' maps as one; a name two families declare throws,
    * naming both (a plain `++` would keep the later one silently). */
  private[graft] def union[V](fs: Seq[QueryFamily])(
      of: QueryFamily => Map[String, V]): Map[String, V] = {
    val entries = fs.flatMap(f => of(f).toSeq.map { case (k, v) => (k, v, f) })
    def name(f: QueryFamily) = f.getClass.getSimpleName.stripSuffix("$")
    entries.groupBy(_._1).foreach { case (k, es) =>
      if (es.size > 1) throw new IllegalStateException(
        s"query $k is declared by both ${name(es(0)._3)} and ${name(es(1)._3)}")
    }
    entries.map { case (k, v, _) => k -> v }.toMap
  }
}
