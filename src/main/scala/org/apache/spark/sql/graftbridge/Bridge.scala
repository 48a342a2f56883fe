package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal private[sql] bridge: building a DataFrame from a custom
  * LogicalPlan requires Dataset.ofRows, which is private[sql] — the
  * standard pattern for Spark extension libraries (cf. SNIPPETS.md [1],
  * public code doing exactly this) is one file inside the
  * org.apache.spark.sql namespace. Nothing else reaches into internals. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame from an RDD[InternalRow] without the external-Row round trip
    * (SparkSession.internalCreateDataFrame is private[sql]). Rows must
    * already be UnsafeRows matching `schema`. */
  def fromInternalRows(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Column of a Catalyst expression and back (`ExpressionUtils` is
    * private[sql]): how `graft.Det` hands its native aggregate to the
    * Column API without registering a SQL function. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The error an ANSI `Cast` raises when a value does not fit
    * DECIMAL(precision, scale) (`SparkArithmeticException` is
    * private[spark]): how `graft.MoneyUnscaled` raises it for NaN and ±Inf. */
  def decimalOutOfRange(value: String, precision: Int, scale: Int): ArithmeticException =
    new org.apache.spark.SparkArithmeticException("NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION",
      Map("value" -> value, "precision" -> precision.toString, "scale" -> scale.toString,
        "config" -> "\"spark.sql.ansi.enabled\""), Array.empty[org.apache.spark.QueryContext])
}
