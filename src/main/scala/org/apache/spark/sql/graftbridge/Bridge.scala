package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column <-> Expression
  * converters, so graft can register custom Catalyst expressions as
  * Columns. Lives under org.apache.spark.sql for access; keep this file
  * tiny and version-reviewed on Spark upgrades.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Convert a composed DataFrame-API Column into a plain Catalyst tree
    * (UnresolvedFunction nodes and all) instead of the opaque
    * ColumnNodeExpression wrapper `expression` yields — required when the
    * result is RETURNED FROM a function-registry builder, where the
    * analyzer must see and resolve the inner functions (the wrapper
    * reaches codegen unresolved and fails).
    */
  def unresolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Drop an RDD's cached blocks and its entry in the persistence list,
    * without blocking. A materialized checkpoint is freed through
    * `SparkContext.unpersistRDD`: `RDD.unpersist` logs a WARN on every
    * locally checkpointed RDD that its lineage is truncated, and freeing
    * a checkpoint nobody reads again is the point. Other RDDs take
    * `RDD.unpersist`, which also resets their storage level.
    */
  def freeBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    if (rdd.isCheckpointed)
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false)

  /** Runtime function registration on an EXISTING session (the
    * spark.sql.extensions config path only applies to sessions created
    * after the config is set).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
