package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression conversion —
  * the two calls a Spark-native expression library needs. This is the
  * standard extension-library pattern (Spark 4 moved the conversions to
  * `classic.ExpressionUtils`, package-private); everything else in graft
  * stays outside the org.apache.spark namespace. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a one-row/one-column DataFrame as a scalar-subquery expression:
    * the value is computed INSIDE the consuming query's DAG (as a subquery
    * stage at execution time), so constructing the consumer launches no
    * driver-side jobs. This is how Spark's own runtime row-group filtering
    * delivers a bloom filter to a scan. */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Expression =
    org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed)

  /** Flatten a physical plan into its tree nodes WITHOUT descending
    * into cached subtrees: AQE wrappers unwrap via their current plan
    * (`executedPlan` is private[sql] — hence this bridge), query stages
    * via their contained plan, and InMemoryTableScan is a LEAF (its
    * InMemoryRelation's stored build plan is deliberately not visited —
    * cached work is not this query's work). The string-based
    * alternative (parsing treeString indentation) breaks on
    * materialized caches, whose inner AQE sections print at arbitrary
    * indent. */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case _ => p.children.flatMap(planNodes)
    })
  }

  /** Stable unique id for a session instance (`sessionUUID` is
    * private[sql]) — unlike identityHashCode, never collides between two
    * live sessions. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Runtime function registration on an existing session (the
    * spark.sql.extensions config path needs the session to be built with
    * it; this covers already-built sessions). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** The session's Hadoop conf: the context's, plus the session's SQL
    * settings (`sessionState` is private[sql]). */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
}
