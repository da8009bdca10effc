package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-private Column↔Expression converters (Spark 4
  * moved them behind `private[sql] classic.ExpressionUtils`). Placing
  * the shim in this package is the standard extension-library
  * technique for registering custom Catalyst expressions as Columns.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The materialized RDDs a (local)checkpointed Dataset wraps — every
    * LogicalRDD leaf in the analyzed plan. Lets library code manage
    * the persisted checkpoint blocks explicitly (unpersist on memo
    * eviction, storage-status validation) instead of waiting for
    * GC + ContextCleaner to find the dropped references: a
    * localCheckpoint pins MEMORY_AND_DISK blocks that
    * `catalog.clearCache()` and `DataFrame.unpersist()` cannot touch.
    */
  def checkpointRdds(df: Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: execution.LogicalRDD => l.rdd
    }

  /** `dfs`' union re-homed in session `s`: micro-batch frames belong to a stream's clone. */
  def unionIn(s: SparkSession, dfs: Seq[Dataset[_]]): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      dfs.map(_.queryExecution.logical) match {
        case Seq(one) => one
        case plans => catalyst.plans.logical.Union(plans)
      })
}
