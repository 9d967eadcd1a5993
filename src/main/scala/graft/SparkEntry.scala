package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cluster.{ClusterQueries, RingRouter}
import graft.dedup.{DedupComponents, DedupQueries}
import graft.events.{BenfordQueries, CausalQueries, CohortQueries, EventsQueries, JourneyQueries, LifecycleQueries, SeasonalQueries, SkewQueries, TrendQueries, WorkingSetQueries}
import graft.graph.{GraphXAnalytics, HitsQueries}
import graft.keyspace.{BloomGate, KeyspaceQueries}
import graft.multimodal.Multimodal
import graft.profile.{PrivacyQueries, ProfileQueries}
import graft.sources.KvGenQueries
import graft.retrieval.{RagPipeline, RetrievalQueries}
import graft.relational.{AsOfQueries, BasketQueries, PageRank, PartSuppQueries, RangeJoinQueries, RelationalQueries, TpchMoreQueries}
import graft.sim.{BeamSearch, KnnGraphIndex, MatryoshkaQueries, SimilarityQueries}
import graft.text.{BudgetQueries, CollocationQueries, DistributionQueries, MaskingQueries, PipelineQueries, SweepQueries, TextQueries}

/** One registry module: a family of queries and the DuckDB oracle for
  * each, declared side by side so the registry names the module once. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

/** The query registry — see SURVEY.md §7.
  *
  * `queries` carries one named entry per implemented operator from
  * SURVEY.md §2 (plus the training-data-pipeline extensions); `oracleSql`
  * carries the DuckDB-equivalent statement for every query. Both are
  * views of the one [[modules]] list. Column names and row ordering are
  * aligned pairwise — the oracle compare hashes values after sorting
  * columns by name.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A point GET through the full derive→compact→route path (O1). */
  def entry(spark: SparkSession): DataFrame =
    KeyspaceQueries.queries("kv_point_get")(spark, "/root/testdata/sf0.001")

  private[graft] val modules: Seq[QueryModule] =
    Seq(KeyspaceQueries, BloomGate, ClusterQueries, RingRouter,
      TextQueries, PipelineQueries, BudgetQueries, SweepQueries,
      DedupQueries, DedupComponents, GraphXAnalytics, HitsQueries,
      AsOfQueries, SimilarityQueries, KnnGraphIndex, BeamSearch,
      MatryoshkaQueries, CollocationQueries, MaskingQueries, Multimodal,
      EventsQueries, SkewQueries, CohortQueries, TrendQueries,
      LifecycleQueries, BenfordQueries, CausalQueries, SeasonalQueries,
      WorkingSetQueries, JourneyQueries, DistributionQueries,
      RelationalQueries, TpchMoreQueries, PartSuppQueries, BasketQueries,
      RangeJoinQueries, PageRank, RetrievalQueries, RagPipeline,
      ProfileQueries, PrivacyQueries, KvGenQueries)

  private def merged[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val total = maps.map(_.size).sum
    val m = maps.reduce(_ ++ _)
    require(m.size == total,
      s"query name collision across modules: ${total - m.size} shadowed")
    m
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(modules.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = merged(modules.map(_.oracle))
}
