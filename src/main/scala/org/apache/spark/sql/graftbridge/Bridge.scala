package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved Column off Expression; the classic bridge
  * (ExpressionUtils) is private[sql]. This object lives inside the
  * sql package namespace purely to re-export the two conversions the
  * engine's custom Catalyst expressions need. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field nullable, as a file source reads it
    * (`StructType.asNullable` is private[spark]). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** A forked session sharing the SparkContext and cached data but
    * with an ISOLATED conf — the scoped-conf idiom (set a legacy
    * reader conf on the clone, probe, discard) without mutating the
    * caller's session. `cloneSession` is private[sql] on the classic
    * session, hence this bridge. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Block until the async listener bus has delivered all queued
    * events — lets specs assert on QueryExecutionListener traffic
    * (e.g. that a write path issued no collect) without sleeps. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The exact CREATE TABLE column list and INSERT statement Spark's
    * JDBC sink would issue for `url` — dialect dispatch included
    * (JdbcDialects.get is public, but the SQL builders live in the
    * private[sql] JdbcUtils). Lets specs pin the MySQL-dialect SQL
    * for the reference's Load stage without a MySQL server. */
  def jdbcSchemaString(url: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    JdbcUtils.schemaString(
      org.apache.spark.sql.jdbc.JdbcDialects.get(url), schema,
      caseSensitive = false, None)
  }

  def jdbcInsertStatement(url: String, table: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    JdbcUtils.getInsertStatement(table, schema, None,
      isCaseSensitive = false,
      org.apache.spark.sql.jdbc.JdbcDialects.get(url))
  }

  /** The source filters a V1 file scan hands its reader: its data
    * filters translated as the scan itself translates them (the
    * scan's `pushedDownFilters` and the translation are not public). */
  def pushedFilters(scan: org.apache.spark.sql.execution.FileSourceScanExec)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils}
    val nested = DataSourceUtils.supportNestedPredicatePushdown(scan.relation)
    scan.dataFilters.flatMap(DataSourceStrategy.translateFilter(_, nested))
  }

  /** Executed physical plan of a streaming query's last micro-batch —
    * lets specs assert planning facts (e.g. that a planted repartition
    * + secondary sort satisfied a stateful operator's required
    * distribution/ordering and no extra exchange/sort was inserted).
    * The wrapper and StreamExecution types are private[sql], hence
    * this bridge. */
  def lastStreamingPlan(q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
}
