package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Tables

class CosineSimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("native expression equals the HOF composition bit for bit") {
    val emb = Tables.embeddings(spark, sf)
    val both = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .limit(2000)
      .select(
        HofVectors.cosine($"a.embedding", $"b.embedding").as("hof"),
        VectorFunctions.cosine($"a.embedding", $"b.embedding").as("native"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) => assert(h == n, s"$h != $n") }
  }

  test("registered in SQL: cosine_sim callable from spark.sql") {
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_tmp")
    val got = spark.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) AS c
        |FROM emb_tmp a JOIN emb_tmp b ON a.vec_id = 0 AND b.vec_id = 1
        |""".stripMargin).as[Double].head()
    assert(got > -1.0 && got < 1.0)
  }

  test("null on zero vectors, self-similarity is 1") {
    val df = Seq(
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f)),
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f)),
    ).toDF("a", "b")
    val rows = df.select(VectorFunctions.cosine($"a", $"b")).collect()
    assert(rows(0).isNullAt(0))
    assert(math.abs(rows(1).getDouble(0) - 1.0) < 1e-15)
  }
}
