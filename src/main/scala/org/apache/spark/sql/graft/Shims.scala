package org.apache.spark.sql.graft

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge into the Spark-private members graft needs: the
  * `private[sql]` constructors third-party plan nodes use (the same
  * doorway Delta Lake and friends use: a shim inside an
  * org.apache.spark.sql subpackage), the session's SQLConf and RDD
  * block freeing. Kept to one-liners — everything else in graft uses
  * public API.
  */
object Shims {
  /** DataFrame from a custom LogicalPlan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The Catalyst expression behind a Column — eagerly converted
    * (ExpressionUtils.expression returns a lazy ColumnNodeExpression
    * wrapper whose internal nodes are neither resolvable by custom
    * plans nor serializable).
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** The session's own SQLConf (what its parquet reads are planned
    * under).
    */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** Whether `rdd` is marked for, or holds, a local checkpoint. */
  def locallyCheckpointed(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])

  /** Drop `rdd`'s cached blocks: `RDD.unpersist` minus the warning it
    * logs on every call for a locally checkpointed RDD.
    */
  def dropBlocks(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
