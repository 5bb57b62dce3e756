package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.ops.RefOps
import graft.sink.{StagedPublish, Upsert}
import graft.sources.{RestScan, Transport}
import graft.util.Overlap

/** The reference's entire dataflow (SURVEY §3.1) as one lazy Spark
  * program: sitemap → products → shop_info → ratings → staged upserts into
  * a parquet warehouse. Each stage cites the reference function it
  * re-homes. XCom whole-table hops (reference dags/etl.py:40,81,121-122,167)
  * become plain DataFrame lineage; the two multi-consumer stages are
  * `.persist()`ed — exactly the reference's fan-out points.
  */
object SendoPipeline {

  val SitemapUrl = "https://mapi.sendo.vn/wap_v2/category/sitemap"
  def productUrl(subCategory: String, page: Int): String =
    s"https://searchlist-api.sendo.vn/app/products?category_path=$subCategory&page=$page"
  def detailUrl(path: String): String =
    s"https://detail-api.sendo.vn/full/$path"
  def ratingUrl(shopId: String, page: Int): String =
    s"https://shop-home.sendo.vn/api/web/v1/shop/rating/$shopId?page=$page&limit=10000"

  // ---- payload schemas (FIXTURES.md §2; explicit, fail-fast) ----

  /** from_json options: a malformed (non-JSON) body must FAIL the job,
    * not parse to null and silently drop the page via explode(null) —
    * the reference's pandas parse raises on garbage too. A well-formed
    * body whose `data` is null stays a normal skip: that is the scan's
    * last-page protocol (reference dags/etl.py:58). */
  private val FailFast = Map("mode" -> "FAILFAST")

  private val sitemapChild = StructType(Seq(StructField("url_key", StringType)))
  private val sitemapCat = StructType(Seq(
    StructField("url_key", StringType),
    StructField("child", ArrayType(sitemapChild))))
  val sitemapSchema: StructType = StructType(Seq(
    StructField("result", StructType(Seq(
      StructField("data", ArrayType(sitemapCat)))))))

  private val productRecord = StructType(Seq(
    StructField("product_id", StringType),
    StructField("name", StringType),
    StructField("category_path", StringType),
    StructField("price", DecimalType(15, 2)),
    StructField("price_max", DecimalType(15, 2)),
    StructField("final_price", DecimalType(15, 2)),
    StructField("final_price_max", DecimalType(15, 2)),
    StructField("shop_id", StringType)))
  val productPageSchema: StructType = StructType(Seq(
    StructField("data", ArrayType(productRecord))))

  private val shopInfoRecord = StructType(Seq(
    StructField("shop_id", StringType),
    StructField("shop_name", StringType),
    StructField("good_review_percent", DecimalType(10, 2)),
    StructField("score", DecimalType(10, 2)),
    StructField("customer_id", StringType),
    StructField("phone_number", StringType),
    StructField("rating_avg", DecimalType(10, 2)),
    StructField("rating_count", IntegerType),
    StructField("response_time", StringType),
    StructField("product_total", IntegerType),
    StructField("sale_on_sendo", StringType),
    StructField("time_prepare_product", StringType),
    StructField("warehourse_region_name", StringType)))
  val shopDetailSchema: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("shop_info", shopInfoRecord))))))

  private val ratingRecord = StructType(Seq(
    StructField("rating_id", StringType),
    StructField("address", StringType),
    StructField("star", IntegerType),
    StructField("comment", StringType),
    StructField("status", StringType),
    StructField("update_time", StringType),
    StructField("customer_id", StringType),
    StructField("user_name", StringType),
    StructField("product_name", StringType),
    StructField("product_path", StringType),
    StructField("price", DecimalType(15, 2))))
  val ratingPageSchema: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("ratings", ArrayType(ratingRecord)))))))

  // ---- extract stages ----

  /** S1-S3 (reference dags/etl.py:25-40): sitemap fetch → (category,
    * sub_category) rows. The reference's Map[cat → List[subcat]] is kept
    * relational (SURVEY §1.3). */
  def subCategories(spark: SparkSession, transport: Transport): DataFrame = {
    import spark.implicits._
    val body = transport.get(SitemapUrl) // one request, driver-side (S1)
    Seq(body).toDF("json")
      .select(from_json($"json", sitemapSchema, FailFast).as("j"))
      .select(explode($"j.result.data").as("cat"))
      .select($"cat.url_key".as("category"),
        explode($"cat.child.url_key").as("sub_category"))
  }

  /** S4/S5/P4/U1/P1 (etl.py:43-81): paginated product scan per
    * sub-category; the page batches arrive as one distributed dataset, so
    * the reference's concat (U1) is implicit. */
  def products(spark: SparkSession, subCats: DataFrame,
      transport: Transport): DataFrame = {
    import spark.implicits._
    // A null category/sub_category cannot form a scan URL — concat_ws
    // SKIPS nulls, so the key would silently lose its separator and the
    // split-indexing in the fetch lambda would crash the executor task.
    // Droppable rows are dropped explicitly, here.
    val keys = subCats
      .filter(col("category").isNotNull && col("sub_category").isNotNull)
      .select(
      concat_ws("|", col("category"), col("sub_category")).as("key"))
      .as[String]
    val pages = RestScan.paginated(keys,
      (key, page) => productUrl(key.split('|')(1), page),
      transport, RestScan.productLastPage)
      .toDF("key", "page", "body")
    val parsed = pages
      .withColumn("category", split(col("key"), "\\|").getItem(0))
      .withColumn("sub_category", split(col("key"), "\\|").getItem(1))
      .select(col("category"), col("sub_category"),
        explode(from_json(col("body"), productPageSchema, FailFast).getField("data"))
          .as("p"))
      .select(col("p.*"), col("category"), col("sub_category"))
    RefOps.project(Schemas.productColumns)(parsed)
  }

  /** U3/S6/P7/P2 (etl.py:84-122): dedup products to one per shop, fetch
    * each shop's detail once (the reference's hand-rolled cost
    * optimization, SURVEY §4.1), parse shop_info. */
  def shopInfos(spark: SparkSession, products: DataFrame,
      transport: Transport): DataFrame = {
    import spark.implicits._
    val oneProductPerShop = RefOps.dedupByKeyFirst(
      Seq("shop_id"), Seq(col("product_id")))(products)
    val keys = oneProductPerShop
      .select(RefOps.stripHtmlSuffix(col("category_path")).as("path"))
      .as[String]
    val bodies = RestScan.perKey(keys, detailUrl, transport).toDF("path", "body")
    val parsed = bodies
      .select(from_json(col("body"), shopDetailSchema, FailFast)
        .getField("data").getField("shop_info").as("s"))
      .select(col("s.*"))
    RefOps.project(Schemas.shopInfoColumns)(parsed)
  }

  /** S7/P5/U2/P3/P8 (etl.py:125-167): paginated rating scan per shop,
    * tagged with its shop_id, dates parsed day-first. Each distinct shop
    * is scanned once, though two detail pages can answer with one shop. */
  def ratings(spark: SparkSession, shopInfos: DataFrame,
      transport: Transport): DataFrame = {
    import spark.implicits._
    val keys = shopInfos.select(col("shop_id")).distinct().as[String]
    val pages = RestScan.paginated(keys, ratingUrl, transport,
      RestScan.ratingLastPage).toDF("shop_id", "page", "body")
    val parsed = pages
      .select(col("shop_id"),
        explode(from_json(col("body"), ratingPageSchema, FailFast)
          .getField("data").getField("ratings")).as("r"))
      .select(col("shop_id"), col("r.*"))
      .withColumn("update_time",
        RefOps.parseVnDate(col("update_time")))
    RefOps.project(Schemas.ratingColumns)(parsed)
  }

  // ---- load (SURVEY §2.4 L1-L9, §3.1 steps 5-6) ----

  /** Read a warehouse table by its declared `schema` (the contract
    * [[Schemas]] states), empty with that schema if absent. No schema
    * inference: a footer-reading job per read would cost more than the
    * read itself on a small table. Partition columns (such as the ingest
    * forms' `ingest_batch`) still come from the directory names, after
    * the declared columns. [[mergeTable]] refuses to publish a table whose
    * types differ from `schema`, so the files match what this read
    * expects. */
  def readTable(spark: SparkSession, warehouseDir: String, name: String,
      schema: StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) spark.read.schema(schema).parquet(path.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Staged MERGE of one table (L1-L3 idiom): read target, upsert, write.
    * The staging-table lifecycle lives inside [[Upsert.upsert]]'s
    * semantics; a write-to-stage + rename-swap ([[StagedPublish]], after
    * its crash recovery) replaces MySQL's staging+merge+drop. The merged
    * plan still READS the current table files while the stage write
    * runs, so no caching is needed and a lost/evicted partition
    * recomputes safely — mode("overwrite") onto the path being read
    * would delete its own input on recompute.
    *
    * A merged result whose columns or types differ from `schema` is
    * rejected before anything is written: [[readTable]] reads by the
    * declared schema, so such a table would fail the next run's read. */
  def mergeTable(spark: SparkSession, warehouseDir: String, name: String,
      schema: StructType, source: DataFrame, pk: String): Unit = {
    val finalPath = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
    val stage = new org.apache.hadoop.fs.Path(s"$warehouseDir/.$name.__stage__")
    val old = new org.apache.hadoop.fs.Path(s"$warehouseDir/.$name.__old__")
    val fs = finalPath.getFileSystem(spark.sessionState.newHadoopConf())
    StagedPublish.recover(fs, finalPath, old)
    val target = readTable(spark, warehouseDir, name, schema)
      .select(source.columns.map(col).toIndexedSeq: _*)
    val merged = Upsert.upsert(target, source, Seq(pk))
    val declared = schema.fields.map(f => f.name -> f.dataType).toMap
    val drift = merged.schema.fields.collect {
      case f if !declared.get(f.name).exists(
          DataTypeUtils.equalsIgnoreNullability(_, f.dataType)) =>
        s"${f.name}: ${f.dataType.simpleString}"
    } ++ (schema.fieldNames.toSet -- merged.columns).map(c => s"$c: missing")
    if (drift.nonEmpty) throw new IllegalArgumentException(
      s"mergeTable($name): merged columns differ from the declared schema " +
        s"${schema.simpleString}: ${drift.mkString(", ")}")
    StagedPublish.publish(fs, finalPath, stage, old)(
      merged.write.mode("overwrite").parquet(stage.toString))
  }

  /** The full DAG (etl.py:308-343). Returns the three final tables.
    *
    * As in the reference, where LocalExecutor runs independent Airflow
    * tasks at the same time, the load is two branches that run together
    * ([[Overlap.writeBoth]]): the shop branch (D3, etl.py:206-281:
    * `shop_info` MERGE → S8 read-back → RI-filtered `product_detail`
    * MERGE) and the rating branch (D2, etl.py:170-203: `ratings` →
    * `rating` MERGE). Each fills the cores the other leaves idle while it
    * waits on the origin or on a write. Each MERGE publishes atomically
    * and is idempotent, so when one branch fails the other still lands,
    * nothing is left half-written, and a replay converges; `run`
    * rethrows once both are done (the shop branch's failure first).
    *
    * Both branches start from all of `shops` (a cached scan is
    * materialized whole before anything reads it), so it is built before
    * they fork, by this thread alone, which costs no overlap. Two threads
    * building stacked caches at once can deadlock in Spark when one
    * build fails: the failed build clears the caches over it, whose
    * builder lock the other thread holds while it waits for this one.
    * `rats` is pinned because its MERGE reads it twice (anti-join keys,
    * then the union); unpinned, every rating page would be fetched
    * twice. */
  def run(spark: SparkSession, transport: Transport,
      warehouseDir: String): Map[String, DataFrame] = {
    val subCats = subCategories(spark, transport)
    val prods = products(spark, subCats, transport).persist()   // 2 consumers
    val shops = shopInfos(spark, prods, transport).persist()    // 2 consumers
    val rats = ratings(spark, shops, transport).persist()       // read twice
    try {
      shops.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      Overlap.writeBoth(
        {
          mergeTable(spark, warehouseDir, "shop_info", Schemas.shopInfo, shops, "shop_id")
          val dbShopIds = readTable(spark, warehouseDir, "shop_info", Schemas.shopInfo)
            .select("shop_id") // S8 read-back
          val validShops = RefOps.distinctKeys("shop_id")(dbShopIds, shops) // U4
          val rifProducts = RefOps.riFilter(validShops, "shop_id")(prods)   // P9
          mergeTable(spark, warehouseDir, "product_detail", Schemas.productDetail,
            rifProducts, "product_id")
        },
        // The reference's 5-way rating fan-out (D2/U5) is subsumed by
        // partition parallelism inside one merge.
        mergeTable(spark, warehouseDir, "rating", Schemas.rating, rats, "rating_id"))
    } finally { prods.unpersist(); shops.unpersist(); rats.unpersist() }
    Map(
      "shop_info" -> readTable(spark, warehouseDir, "shop_info", Schemas.shopInfo),
      "product_detail" -> readTable(spark, warehouseDir, "product_detail", Schemas.productDetail),
      "rating" -> readTable(spark, warehouseDir, "rating", Schemas.rating))
  }
}
