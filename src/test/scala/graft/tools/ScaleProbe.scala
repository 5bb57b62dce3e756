package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.model.Tables

/** One-off 10x corpus generator for the SCALING.md probe: replicates the
  * driver's sf0.1 documents/embeddings/events tables `factor` times into
  * an sf-dir-shaped output so the five most expensive queries can be
  * timed at two scale points (wall-time exponent ~ log(t_Nx/t_1x)/log N).
  *
  * Replication preserves each query's WORK DISTRIBUTION instead of
  * planting pathological structure:
  *  - documents: replica r > 0 suffixes every token with "_r<r>", so
  *    replicas share NO shingles/tokens with the original — the planted
  *    near-dup structure replicates per replica (10x docs => 10x dup
  *    pairs), rather than every doc acquiring a 10-clique of cross-
  *    replica near-dups (which would square the pair count and measure
  *    a different problem);
  *  - embeddings: replica vectors get a deterministic hash-derived
  *    offset per dimension, scattering them away from their originals
  *    for the same reason;
  *  - events: user ids shift by a replica stride, so sessions replicate
  *    per user (10x sessions of the same size, not 10x-longer sessions).
  *
  * SKEW MODE (4th arg "skew"): after replication, the documents table is
  * made ADVERSARIAL instead of work-preserving — the real-world
  * CommonCrawl shape every exponent probe deliberately avoids:
  *  - one boilerplate text overwrites ~20% of all docs (doc_id % 5 == 1):
  *    one mega exact-dup cluster, which lands those docs' every MinHash
  *    band in ONE bucket and their every window partition in one task;
  *  - every remaining doc gets one universal trailing 3-token shingle
  *    ("the site footer"), the hot-shingle stopword-gram shape that makes
  *    shingle co-occurrence joins quadratic without maxShingleDf.
  *
  * NEARSKEW MODE (4th arg "nearskew", r10): the same 20% boilerplate
  * flood, but each flooded doc gets ONE unique trailing token
  * (" doc<doc_id>") — pairwise Jaccard stays ≈0.94 (31 of 33 shingles
  * shared), so the flood is still one giant near-dup clique, but the
  * texts are no longer byte-identical: the exact-collapse prestage
  * CANNOT absorb it, and the cluster paths must survive the hot
  * (band, bh) buckets on their own. This is the CommonCrawl shape the
  * collapse can't fix (boilerplate with injected dates/ids/timestamps).
  *
  * EMBSKEW MODE (4th arg "embskew", r11): the EMBEDDING-space analogue
  * of nearskew (r10 verdict #3) — 20% of all vectors (vec_id % 5 == 1,
  * ACROSS replicas, so the clique grows with the corpus) are replaced
  * by one dense correlated cluster: base vector all-ones plus a
  * per-(vector, dim) deterministic uniform offset in [-0.4, 0.4], which
  * puts every flooded PAIR at cosine ≈ 64/(64 + 64·0.16/3·2) ≈ 0.94 —
  * far above the semantic paths' 0.4 threshold, with all-distinct ids
  * and all-distinct float values, so no exact-collapse can absorb it.
  * One giant near-dup clique in a 16-centroid bucketing lands ~all
  * flooded vectors in ONE bucket: the shape that makes within-bucket
  * quadratics and sign-LSH hot buckets show their scaling. Docs/events
  * replicate work-preserving in this mode (the flood is embedding-only).
  *
  * EMBCLUSTER MODE (4th arg "embcluster", r13): a REALISTIC clustered
  * embedding corpus — every vector is one of 200 deterministic
  * hash-uniform cluster centers in [-1,1)^64 plus per-(vector, dim)
  * uniform noise sized so within-cluster pairwise cosine sits ≈0.9
  * (E|center|² = 64/3; noise scale 0.67 adds 64·0.67²/12 ≈ 2.4 —
  * cosine ≈ 21.3/23.7). Real embedding corpora are clustered, not
  * near-random: replica-scatter (the default) is ANN's WORST case
  * (top-10 at cosine ~0.49, probe 20e), and embskew measures one
  * flood, not a production distribution. This mode is the "expected
  * regime" corpus for recall receipts. Docs/events replicate
  * work-preserving; vec_ids and cluster assignment are pure hashes, so
  * the corpus is reproducible at any factor.
  *
  * Usage: Test/runMain graft.tools.ScaleProbe <srcSfDir> <outDir> <factor> [skew|nearskew|embskew|embcluster]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val mode = if (args.length > 3) args(3) else ""
    // Whitelist: a typo'd mode must fail here, not silently generate
    // the default work-preserving corpus and let its numbers masquerade
    // as a skew/cluster-regime receipt (r13 review).
    require(Set("", "skew", "nearskew", "embskew", "embcluster")(mode),
      s"unknown mode: $mode")
    val skew = mode == "skew" || mode == "nearskew"
    require(factor >= 1, s"factor must be >= 1: $factor")
    val spark = graft.Sessions.local(
      Runtime.getRuntime.availableProcessors().toString)
    val stride = 100000000L

    val docs = Tables.documents(spark, src)
    val docsN = (0 until factor).map { r =>
      if (r == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(r * stride))
        .withColumn("text", when(col("text").isNull, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit(s"_r$r"))), " ")))
    }.reduce(_ unionAll _)
    val boiler = "this website uses cookies by continuing to browse the " +
      "site you agree to our use of cookies please review the cookie " +
      "policy for details about how we handle your personal data"
    val flood =
      if (mode == "nearskew")
        concat(lit(boiler), lit(" doc"), col("doc_id").cast("string"))
      else lit(boiler)
    val docsOut =
      if (!skew) docsN
      else docsN.withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 1, flood)
          .when(col("text").isNotNull,
            concat(col("text"), lit(" the site footer")))
          .otherwise(col("text")))
    docsOut.write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")

    val emb = Tables.embeddings(spark, src)
    val embN = (0 until factor).map { r =>
      if (r == 0) emb
      else {
        val shifted = emb.withColumn("vec_id", col("vec_id") + lit(r * stride))
        // embcluster fully overwrites the embedding below, so the
        // per-replica scatter transform would be 64 discarded hash
        // evaluations per vector — skip it (the id stride is all the
        // replication that mode needs).
        if (mode == "embcluster") shifted
        else shifted.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x + (pmod(hash(col("vec_id"), lit(r), i), lit(1000))
              .cast("double") / 1000.0 - 0.5)).cast("float")))
      }
    }.reduce(_ unionAll _)
    val embOut = mode match {
      case "embskew" => embN.withColumn("embedding",
        when(pmod(col("vec_id"), lit(5)) === 1,
          transform(col("embedding"), (_, i) =>
            (lit(1.0) + (pmod(hash(col("vec_id"), i, lit("embskew")),
              lit(1000)).cast("double") / 1000.0 - 0.5) * 0.8)
              .cast("float")))
          .otherwise(col("embedding")))
      case "embcluster" =>
        // cluster(v) = hash-uniform over 200 centers; every dim is
        // center + uniform(-0.335, 0.335) noise — within-cluster
        // cosine ≈ 0.9, cross-cluster ≈ 0 (centers are independent
        // uniforms around zero).
        val cl = pmod(xxhash64(col("vec_id"), lit("emcl")), lit(200L))
        embN.withColumn("embedding",
          transform(col("embedding"), (_, i) => {
            val center = (pmod(hash(cl, i, lit("ctr")), lit(2000))
              .cast("double") / 1000.0 - 1.0)
            val noise = (pmod(hash(col("vec_id"), i, lit("off")),
              lit(1000)).cast("double") / 1000.0 - 0.5) * 0.67
            (center + noise).cast("float")
          }))
      case _ => embN
    }
    embOut.write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")

    // customer: replica keys shift by the same stride as orders'
    // o_custkey, so referential integrity replicates per replica and
    // the FK expectation check can be probed without planted orphans.
    val cust = Tables.customer(spark, src)
    val custN = (0 until factor).map { r =>
      if (r == 0) cust
      else cust.withColumn("c_custkey", col("c_custkey") + lit(r * stride))
    }.reduce(_ unionAll _)
    custN.write.mode(SaveMode.Overwrite).parquet(s"$out/customer.parquet")

    // orders: replica keys shift by the stride; dates/status/price are
    // preserved, so date-window snapshots and %k key classes replicate
    // per replica (10x orders => 10x rows per snapshot window), which is
    // the work distribution snapshot_diff scales with.
    val ord = Tables.orders(spark, src)
    val ordN = (0 until factor).map { r =>
      if (r == 0) ord
      else ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(r * stride))
        .withColumn("o_custkey", col("o_custkey") + lit(r * stride))
    }.reduce(_ unionAll _)
    ordN.write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")

    val ev = Tables.events(spark, src)
    val evN = (0 until factor).map { r =>
      if (r == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(r * stride))
        .withColumn("user_id", col("user_id") + lit(r * stride))
    }.reduce(_ unionAll _)
    evN.write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")

    println(s"[scaleprobe] wrote ${factor}x corpus to $out: " +
      s"docs=${spark.read.parquet(s"$out/documents.parquet").count()} " +
      s"emb=${spark.read.parquet(s"$out/embeddings.parquet").count()} " +
      s"events=${spark.read.parquet(s"$out/events.parquet").count()}")
    spark.stop()
  }
}
