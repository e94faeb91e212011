package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Expression ↔ Column bridge for Spark 4.x, where `Column` is node-based
  * and the classic converters — and frames over catalyst rows — are
  * `private[sql]`. Lives in a subpackage of org.apache.spark.sql solely to
  * reach them; contains no logic. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over catalyst rows: its plan is the RDD alone, so no
    * catalog relation appears in it. */
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Column → catalyst Expression via the same converter the classic
    * Dataset API applies. Unlike [[expression]] — which wraps the column's
    * node tree in one opaque `ColumnNodeExpression` leaf that only the
    * DataFrame path later unwraps — this produces a real catalyst tree
    * (UnresolvedFunction etc.) that the ANALYZER resolves, so it is the
    * right form for SQL `FunctionRegistry` builders. */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}
