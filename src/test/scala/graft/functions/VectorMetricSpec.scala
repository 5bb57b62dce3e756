package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Tables

/** Each native vector kernel equals its HOF reference ([[HofVectors]])
  * bit for bit, in generated code and in interpreted evaluation, on the
  * fixture pairs and on the edge inputs: zero vector, null vector, null
  * element, empty array, and float × double. */
class VectorMetricSpec extends AnyFunSuite with SparkTestBase {

  private val kernels: Seq[(String, (Column, Column) => Column,
      (Column, Column) => Column)] = Seq(
    ("cosine_sim", VectorFunctions.cosine, HofVectors.cosine),
    ("dot_product", VectorFunctions.dot, HofVectors.dot),
    ("sq_dist", VectorFunctions.l2sq, HofVectors.l2sq))

  // Generated code that fails to compile must fail the test instead of
  // falling back to the interpreted path, and the interpreted path must
  // be the only one in the other mode.
  private val modes = Seq(
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  /** `rows` as a non-local frame (a local relation would be evaluated
    * by the optimizer, outside both code paths under test). */
  private def frame(rows: Seq[Row], fields: (String, DataType, Boolean)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(fields.map { case (n, elem, containsNull) =>
        StructField(n, ArrayType(elem, containsNull), nullable = containsNull)
      }))

  private def f(xs: Any*): Seq[Any] = xs.map {
    case null => null
    case x: Double => x.toFloat
  }

  // Equal-length pairs (the kernels' contract): a float side `a`, and a
  // float `b` and a double `d` side for it.
  private lazy val edges = frame(Seq(
      Row(f(0.0, 0.0, 0.0), f(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),        // zero vector
      Row(null, f(1.0, 2.0), Seq(1.0, 2.0)),                               // null vector
      Row(f(1.0, null, 3.0), f(2.0, 3.0, 4.0), Seq(2.0, 3.0, 4.0)),        // null element, left
      Row(f(1.0, 2.0), f(1.0, null), Seq(null, 2.0)),                      // null element, right
      Row(Seq.empty, Seq.empty, Seq.empty),                                // empty arrays
      Row(f(0.1, -2.5, 3.25), f(7.0, 1e-3, -0.3), Seq(0.3, 1e-3, -7.0))), // float x double
    ("a", FloatType, true), ("b", FloatType, true), ("d", DoubleType, true))

  // The same shapes with no null slot anywhere, so the kernels' own
  // nullability can resolve false.
  private lazy val dense = frame(Seq(
      Row(f(0.0, 0.0), f(1.0, 2.0), Seq(1.0, 2.0)),
      Row(Seq.empty, Seq.empty, Seq.empty),
      Row(f(0.1, -2.5, 3.25), f(7.0, 1e-3, -0.3), Seq(0.3, 1e-3, -7.0))),
    ("a", FloatType, false), ("b", FloatType, false), ("d", DoubleType, false))

  private lazy val fixture = {
    val vs = Tables.embeddings(spark, sf).orderBy("vec_id").collect()
      .map(_.getSeq[Float](1)).toSeq
    frame(vs.combinations(2).map { case Seq(l, r) => Row(l, r, r.map(_.toDouble)) }
        .toSeq,
      ("a", FloatType, true), ("b", FloatType, true), ("d", DoubleType, true))
  }

  /** Every row of `df`: kernel(a, other) equals reference(a, other) as a
    * boxed value (so NULL = NULL, and doubles compare by their bits). The
    * kernel runs in a query of its own, so in the codegen mode it is
    * compiled into a whole stage rather than interpreted beside the
    * reference's fallback expressions. */
  private def sameAsReference(name: String, kernel: (Column, Column) => Column,
      reference: (Column, Column) => Column, df: DataFrame): Unit =
    modes.foreach { case (mode, conf) =>
      withSQLConf(conf: _*) {
        Seq("b", "d").foreach { other =>
          val k = df.select(kernel(col("a"), col(other)))
          val wholeStage = k.queryExecution.executedPlan.collect {
            case w: WholeStageCodegenExec => w }.exists(_.toString.contains(name))
          assert(wholeStage == (mode == "CODEGEN_ONLY"), s"$mode: ${k.queryExecution}")
          val got = k.collect().map(_.get(0))
          val want = df.select(reference(col("a"), col(other))).collect().map(_.get(0))
          assert(got.nonEmpty && got.length == want.length)
          got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
            assert(g == w, s"$mode $name(a, $other) row $i: $g != $w")
          }
        }
      }
    }

  kernels.foreach { case (name, kernel, reference) =>
    test(s"$name equals the HOF reference in generated and interpreted code") {
      Seq(edges, dense, fixture).foreach(sameAsReference(name, kernel, reference, _))
    }
  }
}
