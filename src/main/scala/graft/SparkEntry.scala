package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{DialectQueries, ExtendedQueries, MicroQueries, OperatorQueries, RelationalQueries, ScalarExtras, TemporalJoins, WindowExtras}
import graft.pipeline.{Clustering, CorpusDiagnostics, CorpusOps, CurationExtras, CurationSelection, DedupQueries, MixtureOps, Multimodal, SemanticOps, Similarity, TermStats, TextQueries, TrainingPipeline}
import graft.streaming.StreamingQueries

/** Driver contract (SURVEY.md §7): the declared surface as named queries,
  * each with the DuckDB SQL the driver checks it against.
  *
  * The surface is assembled from the per-module suites, in this order:
  *  - `graft.operators`: the relational, operator, window, scalar,
  *    temporal, dialect and micro-benchmark rows. Most are text rows
  *    ([[Q.text]]) that run their own oracle text on the engine's
  *    statement path; COVERAGE.md lists the builders that stay and why.
  *  - `graft.pipeline`: the LLM-data-pipeline operators (dedup, ANN, text
  *    analysis, curation, mixtures).
  *  - `graft.streaming`: the event-time streaming rows.
  */
object SparkEntry {

  val allQueries: Seq[Q] =
    RelationalQueries.all ++ OperatorQueries.all ++ ExtendedQueries.all ++ WindowExtras.all ++ ScalarExtras.all ++ TemporalJoins.all ++ DialectQueries.all ++
      MicroQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      Similarity.all ++ Multimodal.all ++ TrainingPipeline.all ++
      CorpusOps.all ++ CurationExtras.all ++ CurationSelection.all ++
      Clustering.all ++ TermStats.all ++ SemanticOps.all ++
      CorpusDiagnostics.all ++ MixtureOps.all ++ StreamingQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. */
  def oracleSql: Map[String, String] =
    allQueries.map(q => q.name -> q.oracle).toMap
}
