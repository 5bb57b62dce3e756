package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into private[sql] surface needed by the engine's custom logical
  * plans: building a DataFrame from a LogicalPlan. Lives in the
  * org.apache.spark.sql package for access; contains no Spark code. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A new directory under `java.io.tmpdir`, deleted at JVM exit
    * (Spark's private[spark] `Utils.createTempDir`). */
  def tempDir(namePrefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = namePrefix).getPath

  /** Column ⇄ Catalyst Expression (Spark 4 removed public Column.expr). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Spark's 0.0/-0.0 + NaN canonicalization for grouping/join keys
    * (private[sql]); no-op for expressions that don't need it. */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Exact integral division (the SQL `div` operator) over longs — the
    * Column API exposes no integer division, and `floor(a / b)` routes
    * through double, which rounds across integers once the operands
    * pass 2^53 (the Parity.exactMeanRound4 domain bug, late r8). */
  def integralDivide(a: Column, b: Column): Column =
    column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expression(a), expression(b)))
}
