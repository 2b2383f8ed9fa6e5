package graft

import graft.queries.{Analytics, AnalyticsExt, AnalyticsR6, AnalyticsR6b, AnalyticsR6c, AnalyticsR7, IceQueries, MvQueries, Ref}
import graft.ops.{Dedup, Multimodal, Pipeline, Sim, Text}
import graft.streaming.StreamQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Query registry: reference-parity shapes ([[queries.Ref]]), broader
  * analytics ([[queries.Analytics]]), IceLite lifecycle ([[queries.IceQueries]]),
  * and the training-data ops (dedup / similarity / text / multimodal in
  * [[ops]]). Each entry has a DuckDB oracle unless genuinely
  * non-SQL-expressible.
  */
object SparkEntry {

  val registry: Seq[Q] =
    Ref.all ++ Analytics.all ++ AnalyticsExt.all ++ AnalyticsR6.all ++ AnalyticsR6b.all ++
      AnalyticsR6c.all ++ AnalyticsR7.all ++ IceQueries.all ++ MvQueries.all ++
      Text.all ++ Dedup.all ++ Sim.all ++ Multimodal.all ++ Pipeline.all ++
      StreamQueries.all

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. A 6-way join +
    * grouped revenue — exercises scan, broadcast joins, shuffle agg, sort. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    registry.find(_.name == "an03_local_revenue").get.run(spark, d)
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
