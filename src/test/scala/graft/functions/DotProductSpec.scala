package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Tables

class DotProductSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("native expression equals the HOF composition bit for bit (float arrays)") {
    val emb = Tables.embeddings(spark, sf)
    val both = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .limit(2000)
      .select(
        HofVectors.dot($"a.embedding", $"b.embedding").as("hof"),
        VectorFunctions.dot($"a.embedding", $"b.embedding").as("native"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) => assert(h == n, s"$h != $n") }
  }

  test("double arrays and mixed float/double inputs work") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0f, 5.0f, 6.0f))).toDF("d", "f")
    val got = df.select(
      VectorFunctions.dot($"d", transform($"f", _.cast("double"))).as("dd"),
      VectorFunctions.dot($"d", $"f").as("df")).as[(Double, Double)].head()
    assert(got._1 == 32.0 && got._2 == 32.0)
  }

  test("empty and length-mismatched arrays use the common prefix, 0.0 baseline") {
    val df = Seq(
      (Array.empty[Float], Array(1.0f, 2.0f)),
      (Array(2.0f, 3.0f, 99.0f), Array(10.0f, 10.0f)),
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.dot($"a", $"b"))
      .as[Double].collect()
    assert(got(0) == 0.0 && got(1) == 50.0)
  }

  test("a null element in the common prefix nulls the result, like the HOF") {
    val df = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(2.0, 3.0, 4.0)),
      (Seq(Some(1.0), Some(2.0)), Seq(2.0, 3.0))).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dot($"a", $"b").as("native"),
      aggregate(zip_with($"a", $"b", _ * _), lit(0.0), _ + _).as("hof"))
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getDouble(0) == 8.0 && rows(1).getDouble(1) == 8.0)
  }

  test("codegen compiles when inputs are non-nullable (no isNull slot)") {
    // With containsNull=false arrays `nullable` resolves false and
    // nullSafeCodeGen renders ev.isNull as the literal "false"; the old
    // template emitted "false = true;" — a Janino error that silently
    // fell back to interpreted execution. CODEGEN_ONLY turns that
    // fallback into a hard failure so the regression can't hide. One
    // element comes from `id`: all-literal arrays would be constant-
    // folded at plan time and never reach generated code.
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      val got = spark.range(1).select(
        VectorFunctions.dot(array($"id" + 1.0, lit(2.0)),
          array(lit(3.0), lit(4.0))).as("d"))
        .as[Double].head()
      assert(got == 11.0)
    }
  }

  test("registered in SQL: dot_product callable from spark.sql") {
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_dot_tmp")
    val got = spark.sql(
      """SELECT dot_product(a.embedding, b.embedding) AS d
        |FROM emb_dot_tmp a JOIN emb_dot_tmp b ON a.vec_id = 0 AND b.vec_id = 1
        |""".stripMargin).as[Double].head()
    assert(!got.isNaN)
  }
}
