package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Minimal bridge into the `private[sql]` Column <-> catalyst Expression
  * converters of Spark 4's classic API. Spark 4 wraps Column around
  * ColumnNode (for Connect unification); building a Column from a custom
  * catalyst Expression goes through classic.ExpressionUtils.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function into an EXISTING session's registry (the
    * SparkSessionExtensions path only applies at session build time).
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** A frame over rows a plan has already produced, with no plan of its
    * own: writing it runs exactly the RDD's partitions, one task each.
    */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
