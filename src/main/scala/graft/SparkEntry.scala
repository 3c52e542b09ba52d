package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every implemented operator is declared here as a named query with
  * a DuckDB oracle over the same parquet tables; the two are
  * hash-compared at sf0.01.
  */
object SparkEntry {

  private def registry: Seq[QueryDef] =
    TutorialQueries.all ++ HierarchyQueries.all ++
      DeepHierarchyQueries.all ++ CoreQueries.all ++
      TextQueries.all ++ SimilarityQueries.all ++ EventQueries.all ++
      SqlQueries.all ++ PipelineQueries.all ++ ScaleQueries.all ++
      AnalyticsQueries.all ++ SourceQueries.all ++ GraphQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("h4_closure_report")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For every key in queries, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables (same key set; SparkEntrySpec pins it).
    */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
