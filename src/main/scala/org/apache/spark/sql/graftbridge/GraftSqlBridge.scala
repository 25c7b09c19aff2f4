package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression conversions, so
  * graft's custom Catalyst expressions can be used as `Column`s without
  * going through the SQL parser, and into the `private[spark]` block
  * release. This is the standard shape for Spark extension libraries;
  * nothing else in graft lives outside the `graft` package. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an analyzed LogicalPlan as a DataFrame (`Dataset.ofRows` is
    * private[sql]) — how graft's custom logical operators (e.g.
    * graft.plans.AsOfJoinNode) enter the public Dataset API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drops `rdd`'s blocks without blocking. A locally checkpointed RDD
    * goes through `SparkContext.unpersistRDD` (private[spark]):
    * `RDD.unpersist` logs a WARN on every such call that the truncated
    * lineage cannot be recomputed, which a caller releasing its own
    * checkpoint knows. */
  def release(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false)

  /** The local checkpoints `df` reads: the RDDs of its plan's
    * LogicalRDD leaves, subqueries included. */
  def checkpoints(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Releases every local checkpoint `df` reads. `Dataset.unpersist`
    * frees none of them: it only drops CacheManager entries. */
  def releaseCheckpoints(df: org.apache.spark.sql.DataFrame): Unit =
    checkpoints(df).foreach(release)

  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
}
