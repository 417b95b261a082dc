package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Expression↔Column conversion `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils). This bridge lives inside
  * the sql package tree solely to re-export those two conversions for
  * graft's native Catalyst expressions. No Spark internals are reimplemented
  * here.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's analyzed logical plan. */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** The RDDs backing a (local)checkpointed DataFrame — the LogicalRDD
    * leaves of its analyzed plan. Lets iterative algorithms unpersist a dead
    * iteration's checkpoint blocks immediately instead of waiting for the
    * GC-driven ContextCleaner (a real storage-memory leak at scale). */
  def backingRdds(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Block until every listener event posted so far has been delivered
    * (the bus drain is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A stage's distinct operator scopes in RDD creation order (e.g.
    * "Exchange > Project > Generate > WholeStageCodegen (2)"), or its
    * call-site name when its RDDs carry none. RDDOperationScope is
    * `private[spark]`. */
  def stageLabel(info: org.apache.spark.scheduler.StageInfo): String = {
    val scopes = info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
    if (scopes.isEmpty) info.name else scopes.mkString(" > ")
  }
}
