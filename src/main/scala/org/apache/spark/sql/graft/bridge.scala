package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Column <-> Catalyst Expression bridge for Spark 4, where the converters
  * (`ExpressionColumnNode`, `ColumnNodeToExpressionConverter`) became
  * `private[sql]` after the Column/ColumnNode split. Extension libraries
  * place this shim inside the `org.apache.spark.sql` package to keep
  * building typed Columns from custom codegen expressions — the same
  * technique used by the public Spark-extension ecosystem.
  */
object bridge {
  def column(e: Expression): Column = new Column(ExpressionColumnNode(e))

  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Eagerly unload every loaded state-store provider (they are otherwise
    * kept on-heap until the maintenance thread's next tick notices the
    * deactivated run). `StateStore.unloadAll` is `private[sql]` in Spark 4;
    * this is the same shim technique as the Column bridge above. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Register a temp function builder into an existing session's registry
    * (the runtime counterpart of SparkSessionExtensions.injectFunction). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A DataFrame over a catalog-less DSv2 table (`Dataset.ofRows` over
    * `DataSourceV2Relation.create`, both `private[sql]`): the table's scan
    * builder then gets Spark's pushdown, statistics and runtime filtering
    * exactly as a catalog table does. */
  def tableFrame(
      spark: org.apache.spark.sql.SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(table, None, None))
}
