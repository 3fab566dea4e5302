package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2/§7. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.joinEnrich(spark, "/root/testdata/sf0.001")

  /** Every query family; `queries` and `oracleSql` are derived from it. */
  val families: Seq[QueryFamily] = Seq(
    RelationalQueries, TextQueries, DedupQueries, SimilarityQueries,
    EventQueries, GeoQueries, MultimodalQueries, ReportQueries,
    DisambiguationQueries, ScrapeQueries, FingerprintQueries,
    LangNgramQueries, DateParseQueries, QueueReplayQueries,
    PortalRegistryQueries, CohortQueries, EnrichQueries, ProfileQueries,
    StatsQueries, ContextQueries, CurationQueries, SkewQueries,
    ExtractorQueries, ListingQueries, CatalogBuildQueries, CdcQueries,
    VectorMiningQueries, PatternQueries, ScaleOpsQueries, GeoCliQueries,
    PayloadQueries, CollectJobQueries, MatchAggQueries, ExtractJobQueries,
    FallbackUrlQueries, TokenizerQueries, PersonNerQueries,
    CatalogEnrichQueries, ErrorReplayQueries, EventOpsQueries,
    RetrievalEvalQueries, WebOpsQueries, InfraOpsQueries,
    PatternMiningQueries, GraphTsQueries, QualityAuditQueries,
    IntegritySimQueries, BehaviorQueries, TemporalDpQueries,
    KnapsackQueries, FuzzyMatchQueries, SynopsisQueries, CorpusOpsQueries,
    SinkPayloadQueries, CorpusStatsQueries, CorpusAuditQueries,
    FrontierQueries, CurationFunnelQueries)

  /** Merges one map per family; a name in two families is an error. */
  private def merged[V](part: QueryFamily => Map[String, V]): Map[String, V] = {
    val all = families.flatMap(part(_).toSeq)
    val twice = all.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(twice.isEmpty,
      s"query names registered by two families: ${twice.toSeq.sorted.mkString(",")}")
    all.toMap
  }
  private lazy val allQueries = merged(_.queries)
  private lazy val allOracles = merged(_.oracles)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = allQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = allOracles
}
