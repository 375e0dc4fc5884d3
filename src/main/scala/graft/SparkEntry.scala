package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full reference daily run (main.py:1132-1197) fused into one plan. */
  def entry(spark: SparkSession): DataFrame =
    etl.CrashPipeline.enrichedCrashes(spark, "/root/testdata/sf0.001")

  /** Every operator family, each listed once. */
  val modules: Seq[QueryModule] = Seq(
    relational.CoreQueries,
    etl.EtlQueries, etl.NearestJoin, etl.FuzzyMatch, etl.Anonymize, etl.DqReport, etl.Survivorship,
    etl.GeoCluster, etl.RecordLinkage, etl.CompactionPlan, etl.SchemaDrift, etl.JoinProfile,
    etl.ProfileSuggest, etl.RunReport, etl.Freshness,
    text.TextQueries, text.ImportanceResample, text.SampleSplit, text.PpsSample, text.HashEmbed,
    text.PiiScrub, text.BpeTrain, text.Reservoir, text.KnCounts, text.KnScore, text.LmScore,
    text.PerplexityBuckets, text.LmEval, text.MixEval, text.ZipfFit, text.QualityClassifier,
    text.UnigramTrain, text.NgramNovelty, text.EpochAlloc, text.Curriculum, text.CorpusPipeline,
    text.Collocations, text.Fertility,
    dedup.DedupQueries, dedup.MinHashLsh, dedup.SimHash, dedup.DedupClusters,
    dedup.IncrementalNearDup, dedup.KnnSemantic,
    sim.SimQueries, sim.Mmr, sim.AnnLsh, sim.AnnIvf, sim.BitextMine, sim.AnnPq, sim.AnnIvfPq,
    sim.AnnCellStats, sim.AnnKnnGraph, sim.AnnGraphSearch, sim.VectorOps, sim.Kmeans, sim.Pca,
    sim.Whiten, sim.KCenter, sim.QuantizeInt8, sim.BinaryEmb, sim.RecallEval,
    multimodal.MultimodalQueries, multimodal.PhashNearDup, multimodal.Keyframes,
    multimodal.AlignScore, multimodal.RetrievalEval,
    streaming.StreamQueries, streaming.StreamLateData, streaming.StreamDedup,
    streaming.StreamNearDup, streaming.StreamAnomaly, streaming.StreamTopK,
    streaming.StreamCdcApply, streaming.StreamCep, streaming.StreamDistinct,
    streaming.StreamQualityScore, streaming.StreamLinreg,
    timeseries.TsQueries, timeseries.CrossCorr, timeseries.RollingQuantile, timeseries.Lttb,
    timeseries.MannKendall, timeseries.TheilSen, timeseries.HoltWinters, timeseries.Periodogram,
    timeseries.MatrixProfile,
    stats.SketchQueries, stats.HeavyHitters, stats.KmvSketch, stats.Correlation, stats.CountMin,
    stats.Concentration, stats.MannWhitney, stats.Hll, stats.Bootstrap, stats.Linreg, stats.Anova,
    graph.PageRank, graph.Triangles, graph.Neighbors, graph.Bfs, graph.KCore, graph.Hits,
    graph.LabelProp, graph.Louvain, graph.Components, graph.Modularity, graph.Assortativity,
    graph.Scc, graph.Reciprocity, graph.Closeness, graph.Coreness, graph.Betweenness, graph.Anf,
    analytics.FunnelQueries,
    ModelRegistry)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = union(modules)(_.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; rows-only keys have none. Rendered on every
    * call, so model-as-literal oracles see the current [[OracleContext]]. */
  def oracleSql: Map[String, String] = union(modules)(_.oracles)

  /** The union of each module's `part`, failing with both module names
    * when two modules (or one module listed twice) register one key. */
  def union[V](modules: Seq[QueryModule])(part: QueryModule => Map[String, V]): Map[String, V] =
    modules.foldLeft(Map.empty[String, (QueryModule, V)]) { (acc, m) =>
      part(m).foldLeft(acc) { case (seen, (k, v)) =>
        seen.get(k).foreach { case (first, _) =>
          throw new IllegalStateException(
            s"key '$k' is registered by both ${name(first)} and ${name(m)}")
        }
        seen.updated(k, (m, v))
      }
    }.map { case (k, (_, v)) => k -> v }

  private def name(m: QueryModule): String = m.getClass.getName.stripSuffix("$")
}
