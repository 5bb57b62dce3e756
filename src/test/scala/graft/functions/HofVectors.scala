package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function compositions the native vector kernels
  * ([[graft.functions.expressions.VectorMetric]]) replaced, kept as the
  * reference the kernels are checked against: elements cast to double,
  * products paired by `zip_with`, summed left to right by `aggregate`.
  * On equal-length vectors each kernel must equal its composition bit
  * for bit; on unequal lengths `zip_with` pads the shorter side with
  * NULLs, so these return NULL where the kernels score the common
  * prefix. */
object HofVectors {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(VectorFunctions.toDouble(a), VectorFunctions.toDouble(b),
      _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Null when either norm is zero. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom > 0.0, dot(a, b) / denom)
  }

  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(VectorFunctions.toDouble(a), VectorFunctions.toDouble(b),
      (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
}
