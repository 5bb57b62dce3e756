package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** A native fold over two numeric array columns (`array<float>` or
  * `array<double>`, independently on each side), with whole-stage
  * codegen — the one scoring kernel per vector metric.
  *
  * The shared semantics: elements are widened to double before any
  * arithmetic; the fold runs left to right over the COMMON PREFIX of
  * the two arrays (so inputs of unequal length score their first
  * min(|a|, |b|) elements, like DuckDB's `list_dot_product`); a null
  * element in that prefix makes the result NULL. On equal-length
  * inputs each metric is bit-identical to its `zip_with`/`aggregate`
  * composition (the test-side `graft.functions.HofVectors`), and so to
  * the DuckDB oracles, but runs as one fused primitive loop with no
  * intermediate arrays — which matters most inside higher-order
  * lambdas, where the score is evaluated once per centroid per row.
  *
  * A subclass supplies only its per-element step, its finish and its
  * nullability — the step and finish both as interpreted Scala and as
  * generated Java, with the same arithmetic order. The defaults are a
  * running sum, 0.0 on empty input, NULL only from a null input or a
  * null element. */
abstract class VectorMetric extends BinaryExpression {

  /** Adds element pair (x, y) into `acc`. */
  protected def step(acc: Array[Double], x: Double, y: Double): Unit

  /** Java for [[step]] over accumulator variables `acc`. */
  protected def stepCode(acc: Seq[String], x: String, y: String): String

  /** Number of double accumulators the fold carries, each starting at
    * 0.0; by default one running sum. */
  protected def accumulators: Int = 1

  /** The result of a completed fold; by default the sum (0.0 on empty
    * input). */
  protected def finish(acc: Array[Double]): Any = acc(0)

  /** Java for [[finish]]: assigns `ev.value`, or sets `ev.isNull`. */
  protected def finishCode(ctx: CodegenContext, acc: Seq[String],
      ev: ExprCode): String = s"${ev.value} = ${acc(0)};"

  /** By default NULL only from a null input or a null element. */
  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable(left) || elemNullable(right)

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left); val rf = isFloat(right)
    val acc = new Array[Double](accumulators)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      step(acc,
        if (lf) x.getFloat(i).toDouble else x.getDouble(i),
        if (rf) y.getFloat(i).toDouble else y.getDouble(i))
      i += 1
    }
    finish(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val acc = (0 until accumulators).map(_ => ctx.freshName("acc"))
      def get(arr: String, float: Boolean): String =
        if (float) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      // The null-element branch is emitted only when an element CAN be
      // null: otherwise `nullable` may resolve false, nullSafeCodeGen
      // renders ev.isNull as the literal "false", and "false = true;"
      // would not compile (a silent fallback to the interpreted path).
      val elemChecks = Seq(
        if (elemNullable(left)) Some(s"$a.isNullAt($i)") else None,
        if (elemNullable(right)) Some(s"$b.isNullAt($i)") else None,
      ).flatten
      val nullBreak =
        if (elemChecks.isEmpty) ""
        else s"if (${elemChecks.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      val done = finishCode(ctx, acc, ev)
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |${acc.map(v => s"double $v = 0.0;").mkString(" ")}
        |for (int $i = 0; $i < $n; $i++) {
        |  $nullBreak
        |  double $x = ${get(a, isFloat(left))};
        |  double $y = ${get(b, isFloat(right))};
        |  ${stepCode(acc, x, y)}
        |}
        |${if (elemChecks.isEmpty) done else s"if (!${ev.isNull}) { $done }"}
      """.stripMargin
    })
}

/** Cosine similarity: dot / (sqrt(|a|²)·sqrt(|b|²)), NULL when either
  * norm is zero — so always nullable. The double-element side exists
  * for k-means-trained centroid tables, whose means are doubles. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorMetric {

  override def nullable: Boolean = true

  override protected def accumulators: Int = 3

  override protected def step(acc: Array[Double], x: Double, y: Double): Unit = {
    acc(0) += x * y; acc(1) += x * x; acc(2) += y * y
  }

  override protected def finish(acc: Array[Double]): Any = {
    val denom = math.sqrt(acc(1)) * math.sqrt(acc(2))
    if (denom > 0.0) acc(0) / denom else null
  }

  override protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += $x * $y; ${acc(1)} += $x * $x; ${acc(2)} += $y * $y;"

  override protected def finishCode(ctx: CodegenContext, acc: Seq[String],
      ev: ExprCode): String = {
    val denom = ctx.freshName("denom")
    s"""double $denom = java.lang.Math.sqrt(${acc(1)}) * java.lang.Math.sqrt(${acc(2)});
       |if ($denom > 0.0) { ${ev.value} = ${acc(0)} / $denom; }
       |else { ${ev.isNull} = true; }""".stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** Dot product — the scoring kernel of the quantized and PQ search
  * paths (dots of reconstruction vectors). */
case class DotProduct(left: Expression, right: Expression) extends VectorMetric {

  override protected def step(acc: Array[Double], x: Double, y: Double): Unit =
    acc(0) += x * y

  override protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += $x * $y;"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

/** Squared L2 distance — the k-means inner loop
  * ([[graft.functions.Knn]] trainLoop). */
case class SquaredDistance(left: Expression, right: Expression)
    extends VectorMetric {

  override protected def step(acc: Array[Double], x: Double, y: Double): Unit = {
    val d = x - y
    acc(0) += d * d
  }

  override protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += ($x - $y) * ($x - $y);"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sq_dist"
}
