package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Masking
import graft.operators.{Analytics, Cdc, Clusters, Decontaminate, Dedup,
  Gold, Insights, Ivf, Medallion, Multimodal, Quality, Similarity,
  TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Gold.queries("gold_daily_orders")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * SORTED-ORDER MAP: Verify/Bench/PlanAudit iterate this registry,
    * and a plain HashMap's iteration order is an un-pinned degree of
    * freedom — two runs of the same build could execute the 270 gates
    * in different sequences, which makes any order-dependent
    * interference (shared-session catalog state, ledger contents, JVM
    * code-cache pressure) unbisectable. ListMap over name-sorted
    * entries makes execution order a deterministic, documented part of
    * the contract (spec: SurveyInventorySpec).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
      unorderedQueries.toSeq.sortBy(_._1): _*)

  /** Bench-time registry: identical to [[queries]] except where a
    * gate's registered query carries an in-gate honesty assertion that
    * itself computes an EXACT baseline (ann_hybrid_rrf_routed's
    * agreement check re-runs the brute-force fusion). Benching the
    * registered gate would time the O(probes × corpus) exact leg the
    * routed operator exists to avoid — so Bench measures the operator
    * alone, and Verify (the correctness gate) always runs [[queries]],
    * keeping the honesty assertion on every driver round.
    * SurveyInventorySpec pins the key sets equal and pins each
    * override's output identical to its gate's emitted rows.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ benchOverrides

  /** The override entries behind [[benchQueries]] — kept separately
    * visible so the spec can pin the set of overridden names (each one
    * must be a deliberate, documented honesty-assertion split, never
    * an accidental shadow).
    */
  private[graft] def benchOverrides
      : Map[String, (SparkSession, String) => DataFrame] =
    Map("ann_hybrid_rrf_routed" -> ((s, d) =>
      graft.operators.Retrieval.hybridRrfRouted(
          Tables.documents(s, d), Tables.embeddings(s, d))
        .orderBy(org.apache.spark.sql.functions.col("probe_id"),
          org.apache.spark.sql.functions.col("rank"))))

  private def unorderedQueries
      : Map[String, (SparkSession, String) => DataFrame] =
    Medallion.queries ++ Gold.queries ++
      graft.operators.GoldIncr.queries ++ Analytics.queries ++
      Insights.queries ++ graft.operators.BloomJoin.queries ++
      Cdc.queries ++ graft.operators.CdcGen.queries ++
      graft.operators.CdcSnapshot.queries ++
      Quality.queries ++ Masking.queries ++
      Dedup.queries ++ graft.operators.PrefixJoin.queries ++
      graft.operators.Pagerank.queries ++
      Similarity.queries ++ graft.operators.Retrieval.queries ++
      graft.operators.GraphAnn.queries ++
      graft.operators.Shards.queries ++
      graft.operators.EmbeddingDrift.queries ++
      graft.operators.FeatureStore.queries ++ TextAnalysis.queries ++
      graft.operators.Bpe.queries ++ graft.operators.Bm25.queries ++
      graft.operators.SubstringDedup.queries ++
      graft.operators.LineDedup.queries ++
      graft.operators.LmScore.queries ++
      graft.operators.CorpusFunnel.queries ++
      graft.operators.TpchShapes.queries ++
      graft.operators.TpchShapes2.queries ++
      graft.operators.TpchShapes3.queries ++
      graft.operators.TpchShapes4.queries ++
      graft.operators.PathPatterns.queries ++
      graft.operators.AnalyticsExt.queries ++
      graft.operators.TfidfRetrieval.queries ++
      graft.operators.DocsGraph.queries ++
      graft.operators.GapFill.queries ++
      Multimodal.queries ++ Ivf.queries ++ graft.operators.Pq.queries ++
      graft.operators.Sq.queries ++ graft.operators.Bq.queries ++
      Decontaminate.queries ++ Clusters.queries ++
      graft.operators.Skew.queries ++
      graft.operators.AqeSkew.queries ++
      graft.operators.Basket.queries ++
      graft.operators.Kmeans.queries ++
      graft.operators.Sequences.queries ++
      graft.operators.TempSample.queries ++
      graft.operators.Drift.queries ++
      graft.operators.QualityClassifier.queries ++
      graft.sources.CsvIngest.queries ++
      graft.sources.FileRegistry.queries ++
      graft.sources.LakeWriter.queries ++
      graft.sources.Bucketed.queries ++
      graft.sources.Dpp.queries ++
      graft.sources.CatalogSetup.queries ++
      graft.sources.Volumes.queries ++
      graft.sources.StatsSkipping.queries ++
      graft.sources.BloomSkip.queries ++
      graft.sources.PartitionEvolution.queries ++
      graft.sources.GenSource.queries ++
      graft.sources.JsonlSink.queries ++
      graft.sources.Wap.queries ++
      graft.sources.VersionedLake.queries ++
      graft.sources.TxnGroup.queries ++
      graft.sources.SqlCatalog.queries ++
      graft.sources.CdfSql.queries ++
      graft.sources.LakeProcedures.queries ++
      graft.sources.BranchSql.queries ++
      graft.sources.ZOrder.queries ++
      graft.plans.Pipeline.queries ++
      graft.plans.Promotion.queries ++
      graft.plans.EventLog.queries ++
      graft.plans.Schedule.queries ++
      graft.plans.ConfigLint.queries ++
      graft.streaming.EventStreams.queries ++
      graft.streaming.TransformState.queries ++
      graft.streaming.LakeSink.queries ++
      graft.streaming.LakeChain.queries ++
      graft.streaming.ScdEnrich.queries ++
      graft.streaming.Scd2Apply.queries ++
      graft.streaming.MultiEntityCdc.queries ++
      graft.streaming.DqMonitor.queries ++
      graft.streaming.Continuous.queries ++
      graft.streaming.CorpusStream.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Medallion.oracles ++ Gold.oracles ++
      graft.operators.GoldIncr.oracles ++ Analytics.oracles ++
      Insights.oracles ++ graft.operators.BloomJoin.oracles ++
      Cdc.oracles ++ graft.operators.CdcGen.oracles ++
      graft.operators.CdcSnapshot.oracles ++
      Quality.oracles ++ Masking.oracles ++
      Dedup.oracles ++ graft.operators.PrefixJoin.oracles ++
      graft.operators.Pagerank.oracles ++
      Similarity.oracles ++ graft.operators.Retrieval.oracles ++
      graft.operators.GraphAnn.oracles ++
      graft.operators.Shards.oracles ++
      graft.operators.EmbeddingDrift.oracles ++
      graft.operators.FeatureStore.oracles ++ TextAnalysis.oracles ++
      graft.operators.Bpe.oracles ++ graft.operators.Bm25.oracles ++
      graft.operators.SubstringDedup.oracles ++
      graft.operators.LineDedup.oracles ++
      graft.operators.LmScore.oracles ++
      graft.operators.CorpusFunnel.oracles ++
      graft.operators.TpchShapes.oracles ++
      graft.operators.TpchShapes2.oracles ++
      graft.operators.TpchShapes3.oracles ++
      graft.operators.TpchShapes4.oracles ++
      graft.operators.PathPatterns.oracles ++
      graft.operators.AnalyticsExt.oracles ++
      graft.operators.TfidfRetrieval.oracles ++
      graft.operators.DocsGraph.oracles ++
      graft.operators.GapFill.oracles ++
      Multimodal.oracles ++ Ivf.oracles ++ graft.operators.Pq.oracles ++
      graft.operators.Sq.oracles ++ graft.operators.Bq.oracles ++
      Decontaminate.oracles ++ Clusters.oracles ++
      graft.operators.Skew.oracles ++
      graft.operators.AqeSkew.oracles ++
      graft.operators.Basket.oracles ++
      graft.operators.Kmeans.oracles ++
      graft.operators.Sequences.oracles ++
      graft.operators.TempSample.oracles ++
      graft.operators.Drift.oracles ++
      graft.operators.QualityClassifier.oracles ++
      graft.sources.CsvIngest.oracles ++
      graft.sources.FileRegistry.oracles ++
      graft.sources.LakeWriter.oracles ++
      graft.sources.Bucketed.oracles ++
      graft.sources.Dpp.oracles ++
      graft.sources.CatalogSetup.oracles ++
      graft.sources.Volumes.oracles ++
      graft.sources.StatsSkipping.oracles ++
      graft.sources.BloomSkip.oracles ++
      graft.sources.PartitionEvolution.oracles ++
      graft.sources.GenSource.oracles ++
      graft.sources.JsonlSink.oracles ++
      graft.sources.Wap.oracles ++
      graft.sources.VersionedLake.oracles ++
      graft.sources.TxnGroup.oracles ++
      graft.sources.SqlCatalog.oracles ++
      graft.sources.CdfSql.oracles ++
      graft.sources.LakeProcedures.oracles ++
      graft.sources.BranchSql.oracles ++
      graft.sources.ZOrder.oracles ++
      graft.plans.Pipeline.oracles ++
      graft.plans.Promotion.oracles ++
      graft.plans.EventLog.oracles ++
      graft.plans.Schedule.oracles ++
      graft.plans.ConfigLint.oracles ++
      graft.streaming.EventStreams.oracles ++
      graft.streaming.TransformState.oracles ++
      graft.streaming.LakeSink.oracles ++
      graft.streaming.LakeChain.oracles ++
      graft.streaming.ScdEnrich.oracles ++
      graft.streaming.Scd2Apply.oracles ++
      graft.streaming.MultiEntityCdc.oracles ++
      graft.streaming.DqMonitor.oracles ++
      graft.streaming.Continuous.oracles ++
      graft.streaming.CorpusStream.oracles
}
