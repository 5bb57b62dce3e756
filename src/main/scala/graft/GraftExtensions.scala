package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

import graft.functions.expressions.{CosineSimilarity, DotProduct,
  SquaredDistance, StripAccents, UnicodeNormalize}

/** SQL surface for the engine's native expressions.
  *
  * Two registration paths:
  *  - `.withExtensions(new GraftExtensions)` at session build time
  *    (the SparkSessionExtensions route, for spark.sql users);
  *  - [[GraftFunctions.register]] on an existing session (what Verify,
  *    Bench, and the tests use).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach { case (ident, info, builder) =>
      e.injectFunction((ident, info, builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}

object GraftFunctions {

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("sq_dist"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "sq_dist"),
      (args: Seq[Expression]) => SquaredDistance(args(0), args(1))),
    (FunctionIdentifier("unicode_norm"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_norm"),
      (args: Seq[Expression]) => {
        // The form is a plan-time constant: fold the literal here so an
        // invalid or non-literal form fails analysis, never mid-job.
        val form = args(1) match {
          case e if e.foldable && e.dataType ==
              org.apache.spark.sql.types.StringType =>
            e.eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
              .toString
          case other => throw new IllegalArgumentException(
            s"unicode_norm form must be a string literal, got $other")
        }
        UnicodeNormalize(args(0), form)
      }),
    (FunctionIdentifier("strip_accents"),
      new ExpressionInfo(classOf[StripAccents].getName, "strip_accents"),
      (args: Seq[Expression]) => StripAccents(args(0))))

  /** Idempotent registration on an existing session (functions + the
    * TopKPerKey planner strategy). */
  def register(spark: SparkSession): Unit = {
    registrations.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
    }
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.WindowTopKRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.WindowTopKRewrite
    }
  }

  /** Column-API form of the native cosine (goes through the registry, so
    * [[register]] must have run on the session). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Column-API form of the native dot product (same registry caveat). */
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)

  /** Unicode normalization (same registry caveat). `form` is one of
    * NFC|NFD|NFKC|NFKD, fixed at plan time. */
  def unicodeNorm(text: Column, form: String): Column =
    call_function("unicode_norm", text, org.apache.spark.sql.functions.lit(form))

  /** Accent stripping — NFD then drop combining marks (same registry
    * caveat). */
  def stripAccents(text: Column): Column = call_function("strip_accents", text)
}
