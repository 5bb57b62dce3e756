package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

import graft.functions.expressions.{CosineSimilarity, DotProduct,
  SquaredDistance, StripAccents, UnicodeNormalize}

/** The engine's planner pieces and SQL functions, installed at session
  * build time by [[Sessions.configure]] (`.withExtensions`), the one
  * builder behind every entry point and the tests. Installs:
  *  - the SQL functions `cosine_sim`, `dot_product`, `sq_dist`,
  *    `unicode_norm` and `strip_accents`;
  *  - the TopKPerKey planner strategy;
  *  - the `row_number() <= k` rewrite, as an optimizer rule: it runs in
  *    Spark's operator-optimization batch, before Spark's own window
  *    group limit inference, so a rewritten idiom plans as TopKPerKey
  *    alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    fn("cosine_sim", classOf[CosineSimilarity])(a => CosineSimilarity(a(0), a(1)))
    fn("dot_product", classOf[DotProduct])(a => DotProduct(a(0), a(1)))
    fn("sq_dist", classOf[SquaredDistance])(a => SquaredDistance(a(0), a(1)))
    fn("unicode_norm", classOf[UnicodeNormalize]) { a =>
      // The form is a plan-time constant: fold the literal here so an
      // invalid or non-literal form fails analysis, never mid-job.
      val form = a(1) match {
        case f if f.foldable && f.dataType ==
            org.apache.spark.sql.types.StringType =>
          f.eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .toString
        case other => throw new IllegalArgumentException(
          s"unicode_norm form must be a string literal, got $other")
      }
      UnicodeNormalize(a(0), form)
    }
    fn("strip_accents", classOf[StripAccents])(a => StripAccents(a(0)))
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}

object GraftFunctions {

  /** Unicode normalization (resolved through the session's function
    * registry, which [[GraftExtensions]] fills). `form` is one of
    * NFC|NFD|NFKC|NFKD, fixed at plan time. */
  def unicodeNorm(text: Column, form: String): Column =
    call_function("unicode_norm", text, org.apache.spark.sql.functions.lit(form))

  /** Accent stripping — NFD then drop combining marks (same registry
    * caveat). */
  def stripAccents(text: Column): Column = call_function("strip_accents", text)
}
