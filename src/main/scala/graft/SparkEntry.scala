package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 (plus the training-data-pipeline
  * extensions) is declared here as a named query with, where SQL can express
  * it, a DuckDB oracle the driver hash-compares at sf0.01.
  */
object SparkEntry {

  private def allQ: Seq[Q] = {
    val all = RelationalQueries.all ++ TextQueries.all ++ SimilarityQueries.all ++
      StreamingQueries.all ++ MultimodalQueries.all ++ CorpusQueries.all ++
      AnalyticsQueries.all ++ GraphQueries.all ++ MlQueries.all ++
      EvalQueries.all ++ StatQueries.all ++ TqSuiteQueries.all
    val dup = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("j5_star_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQ.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allQ.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
