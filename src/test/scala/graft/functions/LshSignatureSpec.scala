package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Tables

/** The higher-order-function LSH plan the native
  * [[graft.functions.expressions.LshSignature]] kernel replaced, kept as
  * the reference it is checked against: planes from Spark expressions,
  * per-plane [[VectorFunctions.dot]] dots folded by `aggregate`,
  * margin-ranked probes by `array_sort`, and the per-table explode +
  * `(t, bucket)` join + pair-dedup aggregate search. */
object LshReference {

  /** The plane recipe as Spark expressions: (t, p, w). */
  def planes(spark: SparkSession, tables: Int, bits: Int, dims: Int): DataFrame = {
    val t = floor(col("id") / bits).cast("int")
    val p = pmod(col("id"), lit(bits)).cast("int")
    spark.range(tables.toLong * bits).select(
      t.as("t"), p.as("p"),
      transform(sequence(lit(0), lit(dims - 1)), d =>
        Sketches.unit52(concat_ws(":", lit("lsh"), t, p, d)) * 2.0 - 1.0).as("w"))
  }

  private def planeArray(planes: DataFrame): DataFrame =
    planes.groupBy()
      .agg(array_sort(collect_list(struct(col("t"), col("p"), col("w"))))
        .as("__planes"))

  /** (vid, v, t, keys): table t's bucket followed by its `probes`
    * margin-ranked Hamming-1 probes. */
  def signed(vecs: DataFrame, tables: Int, bits: Int, dims: Int,
      probes: Int): DataFrame = {
    val spark = vecs.sparkSession
    val dotted = vecs.crossJoin(broadcast(planeArray(planes(spark, tables, bits, dims))))
      .select(col("vid"), col("v"),
        explode(sequence(lit(0), lit(tables - 1))).as("t"),
        col("__planes"))
      .withColumn("__dots", transform(sequence(lit(0), lit(bits - 1)), p =>
        VectorFunctions.dot(col("v"),
          element_at(col("__planes"), col("t") * bits + p + 1)
            .getField("w"))))
    val base = aggregate(sequence(lit(0), lit(bits - 1)), lit(0L),
      (acc, p) => acc + when(element_at(col("__dots"), p + 1) >= 0.0,
        pow(lit(2.0), p).cast("long")).otherwise(lit(0L)))
    val flips = slice(
      array_sort(transform(sequence(lit(0), lit(bits - 1)), p =>
        struct(abs(element_at(col("__dots"), p + 1)).as("m"),
          p.cast("int").as("p")))),
      1, math.max(probes, 1))
    val probeKeys =
      if (probes == 0) array(col("__base"))
      else concat(array(col("__base")),
        transform(flips, f => col("__base")
          .bitwiseXOR(pow(lit(2.0), f.getField("p")).cast("long"))))
    dotted.withColumn("__base", base)
      .select(col("vid"), col("v"), col("t"), probeKeys.as("keys"))
  }

  /** The search plan of `Knn.lshCosine` before the kernel. */
  def lshCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dims: Int, tables: Int, bits: Int,
      probes: Int): DataFrame = {
    val p = if (probes == -1) Knn.autoProbes(bits) else probes
    val cb = signed(corpus.select(col(idCol).as("vid"), col(vecCol).as("v")),
      tables, bits, dims, 0)
      .select(col("vid"), col("v"), col("t"), explode(col("keys")).as("bucket"))
    val qb = signed(queries.select(col(idCol).as("vid"), col(vecCol).as("v")),
      tables, bits, dims, p)
      .select(col("vid").as("query_id"), col("v").as("qv"), col("t"),
        explode(col("keys")).as("bucket"))
    val cand = cb.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("vid"))
      .groupBy(col("query_id"), col("vid"))
      .agg(first(col("qv")).as("qv"), first(col("v")).as("v"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("v")))
    cand.withColumn("rk", row_number().over(Window
        .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vid"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("cosine"),
        col("rk"))
  }
}

class LshSignatureSpec extends AnyFunSuite with SparkTestBase {

  private def kernel(v: Column, tables: Int, bits: Int, dims: Int,
      probes: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.expressions.LshSignature(
        org.apache.spark.sql.GraftSqlShim.expression(v), tables, bits, dims,
        probes))

  // Generated code that fails to compile must fail the test instead of
  // falling back to the interpreted path, and the interpreted path must
  // be the only one in the other mode.
  private val modes = Seq(
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  /** Every (vid, t) of `vecs` (vid, v): the kernel's keys for each probe
    * budget 0..bits equal the reference's bucket and its ranked probes. */
  private def sameAsReference(vecs: DataFrame, tables: Int, bits: Int,
      dims: Int): Unit = modes.foreach { case (mode, conf) =>
    withSQLConf(conf: _*) {
      val ref = LshReference.signed(vecs, tables, bits, dims, bits)
        .select(col("vid"), col("t"), col("keys"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Long](2))
        .toMap
      val got = vecs.select(col("vid") +: (0 to bits).map(p =>
          kernel(col("v"), tables, bits, dims, p).as(s"p$p")): _*)
        .collect()
      assert(got.length * tables == ref.size, mode)
      got.foreach { r =>
        val vid = r.getLong(0)
        (0 to bits).foreach { p =>
          val keys = r.getSeq[Long](1 + p)
          assert(keys.length == tables * (1 + p))
          (0 until tables).foreach { t =>
            assert(keys.slice(t * (1 + p), (t + 1) * (1 + p)) ==
              ref((vid, t)).take(1 + p),
              s"$mode: vid $vid, table $t, bits $bits, probes $p")
          }
        }
      }
    }
  }

  /** `rows` as a non-local frame (a local relation would be evaluated
    * by the optimizer, outside both code paths under test). */
  private def frame(rows: Seq[Row], elem: DataType, containsNull: Boolean): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("vid", LongType, nullable = false),
        StructField("v", ArrayType(elem, containsNull)))))

  private lazy val fixture: Seq[(Long, Seq[Float])] =
    Tables.embeddings(spark, sf).filter(col("vec_id") < 64)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq

  test("kernel == HOF signing on float fixture vectors, bits 6-13, probes 0..B") {
    val vecs = frame(fixture.map { case (id, v) => Row(id, v) }, FloatType,
      containsNull = true)
    (6 to 13).foreach(b => sameAsReference(vecs, 3, b, 64))
  }

  test("kernel == HOF signing on double vectors without null elements") {
    val vecs = frame(fixture.map { case (id, v) => Row(id, v.map(_.toDouble)) },
      DoubleType, containsNull = false)
    Seq(6, 9, 13).foreach(b => sameAsReference(vecs, 3, b, 64))
  }

  test("kernel == HOF signing on zero, null, short, long and NaN vectors") {
    val specials = Seq(
      Row(1L, Seq.fill(8)(0.0)),                          // every dot exactly 0
      Row(2L, null),                                      // null vector
      Row(3L, Seq(1.0, null, 2.0, 0.5, 0.0, 1.0, 1.0, 1.0)), // null element
      Row(4L, Seq.empty[Double]),                         // no prefix: dots 0
      Row(5L, Seq(0.25, -1.5, 3.0)),                      // shorter than dims
      Row(6L, (1 to 12).map(i => if (i % 2 == 0) -i.toDouble else i.toDouble)),
      Row(7L, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)), // one axis
      Row(8L, Seq(Double.NaN, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)),
      Row(9L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, null))) // null at the end
    val vecs = frame(specials, DoubleType, containsNull = true)
    (6 to 13).foreach(b => sameAsReference(vecs, 2, b, 8))
    val asFloat = frame(specials.map(r => Row(r.get(0),
        Option(r.getSeq[Any](1)).map(_.map(x =>
          if (x == null) null else x.asInstanceOf[Double].toFloat)).orNull)),
      FloatType, containsNull = true)
    Seq(6, 13).foreach(b => sameAsReference(asFloat, 2, b, 8))
  }

  test("lsh_collisions: per-table lookups, first-seen order, repeats dropped") {
    val probe = Seq(Map(5L -> Seq(2, 0)), Map(7L -> Seq(0, 3), 9L -> Seq(1)),
      Map.empty[Long, Seq[Int]])
    val rows = Seq(Row(Seq(5L, 7L, 5L)), Row(Seq(6L, 9L, 1L)),
      Row(Seq(1L, 2L, 3L)), Row(Seq(5L)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("sig", ArrayType(LongType, false)))))
      .withColumn("probe", typedLit(probe))
    val hits = org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.expressions.LshCollisions(
        org.apache.spark.sql.GraftSqlShim.expression(col("sig")),
        org.apache.spark.sql.GraftSqlShim.expression(col("probe"))))
    modes.foreach { case (mode, conf) =>
      withSQLConf(conf: _*) {
        val got = df.select(hits).collect().map(_.getSeq[Int](0)).toSeq
        assert(got == Seq(Seq(2, 0, 3), Seq(1), Seq(), Seq(2, 0)), mode)
      }
    }
  }
}
