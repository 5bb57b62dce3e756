package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Schemas
import graft.ops.RefOps
import graft.sources.Transport

class SendoPipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("sendo_wh").toString

  test("full pipeline: extract, transform, load into the 3-table warehouse") {
    val wh = freshDir()
    val tables = SendoPipeline.run(spark, SendoFixtures.transport(), wh)

    // Shops: 501/502/503 (599 never materializes — its detail fetch
    // returned 501's info).
    val shops = tables("shop_info")
    assert(shops.select("shop_id").as[String].collect().sorted.toSeq ==
      Seq("501", "502", "503"))
    assert(shops.columns.toSeq == graft.model.Schemas.shopInfoColumns)

    // Products: p3001 dropped by the RI semi-join (shop 599 unknown);
    // p1001 deduped across the two sub-category scans.
    val prods = tables("product_detail")
    assert(prods.select("product_id").as[String].collect().sorted.toSeq ==
      Seq("1001", "1002", "1003", "2001"))
    // category tag survived (P4): p1001 was scanned under dam-nu first.
    val cats = prods.select("product_id", "sub_category")
      .as[(String, String)].collect().toMap
    assert(Set("dam-nu", "ao-nu").contains(cats("1001")))

    // Ratings: 4 rows, none for shop 502; day-first date parse pinned.
    val rats = tables("rating")
    assert(rats.count() == 4)
    val r1 = rats.filter($"rating_id" === "r1")
      .select($"update_time".cast("string")).as[String].head()
    assert(r1 == "2025-04-03", "03/04/2025 must parse day-first")
    assert(rats.filter($"shop_id" === "502").count() == 0)
  }

  test("re-run with identical input is a no-op (upsert idempotency)") {
    val wh = freshDir()
    val first = SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val snap = first.map { case (n, df) => n -> df.collect().toSet }
    val second = SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    second.foreach { case (n, df) =>
      assert(df.collect().toSet == snap(n), s"table $n changed on re-run")
    }
  }

  test("mergeTable recovers a table stranded at the backup path by a mid-swap crash") {
    val wh = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val before = SendoPipeline
      .readTable(spark, wh, "rating", graft.model.Schemas.rating).collect().toSet
    // Simulate a crash between the two publish renames: the table only
    // exists at .rating.__old__.
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$wh/rating"),
      new org.apache.hadoop.fs.Path(s"$wh/.rating.__old__")))
    // The next merge must restore the backup, not merge into nothing.
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val after = SendoPipeline
      .readTable(spark, wh, "rating", graft.model.Schemas.rating).collect().toSet
    assert(after == before, "historical rows must survive the recovery")
  }

  test("re-run with one changed field overwrites only that PK's row") {
    val wh = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val before = SendoPipeline
      .readTable(spark, wh, "rating", graft.model.Schemas.rating).collect().toSet
    val after = SendoPipeline
      .run(spark, SendoFixtures.transport(r1Comment = "Tuyệt vời"), wh)
    val ratingsAfter = after("rating")
    assert(ratingsAfter.filter($"rating_id" === "r1")
      .select("comment").as[String].head() == "Tuyệt vời")
    // Every other row unchanged.
    val changedKeys = ratingsAfter.collect().toSet.diff(before)
      .map(_.getAs[String]("rating_id"))
    assert(changedKeys == Set("r1"))
  }

  private val tableSchemas: Map[String, StructType] = Map(
    "shop_info" -> Schemas.shopInfo,
    "product_detail" -> Schemas.productDetail,
    "rating" -> Schemas.rating)

  private def tables(wh: String): Map[String, Set[Row]] = tableSchemas.map {
    case (t, schema) =>
      t -> SendoPipeline.readTable(spark, wh, t, schema).collect().toSet
  }

  /** Every file under `dir` (hidden stage/backup directories included),
    * by relative path, with its bytes. */
  private def filesOf(dir: String): Map[String, Vector[Byte]] = {
    val root = Paths.get(dir)
    val all = Files.walk(root)
    try all.iterator().asScala.filter(Files.isRegularFile(_)).map { (f: Path) =>
      root.relativize(f).toString -> Files.readAllBytes(f).toVector
    }.toMap
    finally all.close()
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  /** `run`'s stages called one by one, each extract pinned and
    * materialized before the next, in the order `run` used before its two
    * load branches overlapped. */
  private def sequential(t: Transport, wh: String): Unit = {
    def pinned(df: DataFrame): DataFrame = { df.persist().count(); df }
    val subCats = SendoPipeline.subCategories(spark, t)
    val prods = pinned(SendoPipeline.products(spark, subCats, t))
    val shops = pinned(SendoPipeline.shopInfos(spark, prods, t))
    val rats = pinned(SendoPipeline.ratings(spark, shops, t))
    SendoPipeline.mergeTable(spark, wh, "rating", Schemas.rating, rats, "rating_id")
    SendoPipeline.mergeTable(spark, wh, "shop_info", Schemas.shopInfo, shops, "shop_id")
    val db = SendoPipeline.readTable(spark, wh, "shop_info", Schemas.shopInfo)
      .select("shop_id")
    SendoPipeline.mergeTable(spark, wh, "product_detail", Schemas.productDetail,
      RefOps.riFilter(RefOps.distinctKeys("shop_id")(db, shops), "shop_id")(prods),
      "product_id")
    prods.unpersist(); shops.unpersist(); rats.unpersist()
  }

  test("the two load branches share the persisted extract: every URL is " +
      "fetched as often as by the stages run one by one") {
    val (tagRun, tagSeq) = (UUID.randomUUID().toString, UUID.randomUUID().toString)
    val (whRun, whSeq) = (freshDir(), freshDir())
    SendoPipeline.run(spark, new CountingTransport(tagRun, SendoFixtures.transport()), whRun)
    sequential(new CountingTransport(tagSeq, SendoFixtures.transport()), whSeq)
    val got = RequestLog.counts(tagRun)
    assert(got == RequestLog.counts(tagSeq))
    // Every fixture URL exactly once: two detail pages answer with shop
    // 501, and its rating pages are still scanned once.
    assert(got == SendoFixtures.pages().keySet.map(_ -> 1L).toMap)
    assert(tables(whRun) == tables(whSeq))
  }

  test("a failed rating branch still lands shop_info and product_detail, " +
      "leaves rating as it was, and a replay converges") {
    val want = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), want)
    val day1 = tables(want)
    SendoPipeline.run(spark, SendoFixtures.day2Transport(), want)
    val day2 = tables(want)
    tableSchemas.keys.foreach(t => assert(day2(t) != day1(t), s"day 2 must change $t"))

    val wh = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val ratingFiles = filesOf(s"$wh/rating")
    val ex = intercept[Exception] {
      SendoPipeline.run(spark,
        new HostDownTransport("shop-home.sendo.vn", SendoFixtures.day2Transport()), wh)
    }
    assert(causes(ex).exists(c => Option(c.getMessage)
      .exists(_.contains("shop-home.sendo.vn is down"))), s"cause lost: $ex")
    val got = tables(wh)
    assert(got("shop_info") == day2("shop_info"))
    assert(got("product_detail") == day2("product_detail"))
    assert(filesOf(s"$wh/rating") == ratingFiles)
    assert(new java.io.File(wh).list().toSet == tableSchemas.keySet,
      "no stage or backup directory may be left behind")
    // The replay with the origin healthy again equals one clean day 2.
    SendoPipeline.run(spark, SendoFixtures.day2Transport(), wh)
    assert(tables(wh) == day2)
  }

  test("a product page whose price is not a number fails the run before " +
      "either branch writes, and leaves all three tables unchanged (REST schema drift)") {
    val wh = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val before = filesOf(wh)
    val ex = intercept[Exception] {
      SendoPipeline.run(spark, SendoFixtures.driftedPriceTransport(), wh)
    }
    assert(causes(ex).exists(c => Option(c.getMessage)
      .exists(_.contains("FAILFAST"))), s"not a parse failure: $ex")
    assert(filesOf(wh) == before)
  }

  test("readTable reads an existing table by its declared schema and starts no job") {
    val wh = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val ((fields, columns), jobs) = jobsStartedBy {
      val df = SendoPipeline.readTable(spark, wh, "rating", Schemas.rating)
      (df.schema.fields.map(f => f.name -> f.dataType).toSeq, df.columns.toSeq)
    }
    assert(jobs == 0, s"$jobs job(s) started to read a table of declared schema")
    assert(fields == Schemas.rating.fields.map(f => f.name -> f.dataType).toSeq)
    assert(columns == Schemas.ratingColumns)
  }

  test("mergeTable rejects a merged result whose types differ from the " +
      "declared schema before writing anything") {
    val wh = freshDir()
    SendoPipeline.run(spark, SendoFixtures.transport(), wh)
    val before = filesOf(wh)
    val drifted = SendoPipeline
      .readTable(spark, wh, "product_detail", Schemas.productDetail)
      .withColumn("price", col("price").cast("double"))
    val ex = intercept[IllegalArgumentException] {
      SendoPipeline.mergeTable(spark, wh, "product_detail", Schemas.productDetail,
        drifted, "product_id")
    }
    assert(ex.getMessage.contains("price: double"), ex.getMessage)
    assert(filesOf(wh) == before)
  }
}
