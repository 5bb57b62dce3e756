package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.functions.expressions.{CosineSimilarity, DotProduct,
  SquaredDistance}

/** Vector math over `array<float|double>` embedding columns: one native
  * kernel per metric ([[graft.functions.expressions.VectorMetric]]),
  * built directly, so no function-registry registration is needed.
  *
  * Determinism note: elements are widened to double BEFORE any
  * arithmetic and accumulated left to right, so cosine matches DuckDB's
  * `list_dot_product`/`sqrt` formula bit for bit — which keeps vector
  * results oracle-checkable with no tolerance. Vectors of unequal
  * length score their common prefix.
  */
object VectorFunctions {

  /** Array[Float] → Array[Double], exact. */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column = native(DotProduct, a, b)

  /** Cosine similarity; null when either norm is zero. */
  def cosine(a: Column, b: Column): Column = native(CosineSimilarity, a, b)

  /** Squared L2 distance. */
  def l2sq(a: Column, b: Column): Column = native(SquaredDistance, a, b)

  private def native(kernel: (Expression, Expression) => Expression,
      a: Column, b: Column): Column =
    GraftSqlShim.column(kernel(GraftSqlShim.expression(a),
      GraftSqlShim.expression(b)))
}
