package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Tables

/** Pins the native kernels' interchangeability guarantees that the
  * broadcast-argmin assignment and the k-means training loop rely on:
  * sq_dist ≡ the HOF l2sq composition bit for bit, and the generalized
  * cosine accepts (float, double) pairs — the trained-centroid shape —
  * with values bit-equal to computing on pre-widened doubles. */
class SquaredDistanceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("native sq_dist equals the HOF l2sq composition bit for bit") {
    val emb = Tables.embeddings(spark, sf)
    val both = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .limit(2000)
      .select(
        HofVectors.l2sq($"a.embedding", $"b.embedding").as("hof"),
        VectorFunctions.l2sq($"a.embedding", $"b.embedding").as("native"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) => assert(h == n, s"$h != $n") }
  }

  test("sq_dist on (float, double) equals sq_dist on widened doubles") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val both = emb.as("a").join(emb.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .limit(500)
      .select(
        VectorFunctions.l2sq($"a.embedding",
          VectorFunctions.toDouble($"b.embedding")).as("mixed"),
        VectorFunctions.l2sq(
          VectorFunctions.toDouble($"a.embedding"),
          VectorFunctions.toDouble($"b.embedding")).as("wide"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (m, w) => assert(m == w, s"$m != $w") }
  }

  test("cosine on (float, double) equals cosine on widened doubles and the HOF form") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val rows = emb.as("a").join(emb.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .limit(500)
      .select(
        VectorFunctions.cosine($"a.embedding",
          VectorFunctions.toDouble($"b.embedding")).as("mixed"),
        HofVectors.cosine($"a.embedding", $"b.embedding").as("hof"))
      .as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (m, h) => assert(m == h, s"$m != $h") }
  }

  test("null element poisons, empty arrays are 0, zero-norm cosine is null") {
    val df = Seq(
      (Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))),
      (Seq.empty[Option[Float]], Seq.empty[Option[Float]]),
    ).toDF("a", "b")
    val d = df.select(VectorFunctions.l2sq($"a", $"b")).collect()
    assert(d(0).isNullAt(0))
    assert(d(1).getDouble(0) == 0.0)
    val zc = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
      .select(VectorFunctions.cosine($"a", $"b")).collect()
    assert(zc(0).isNullAt(0))
  }

  test("registered in SQL: sq_dist callable from spark.sql") {
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_sqd_tmp")
    val got = spark.sql(
      """SELECT sq_dist(a.embedding, b.embedding) AS d
        |FROM emb_sqd_tmp a JOIN emb_sqd_tmp b ON a.vec_id = 0 AND b.vec_id = 1
        |""".stripMargin).as[Double].head()
    assert(got > 0.0)
  }
}
