package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.functions.Knn

/** The serving leg of `ingest_search`, read only: a k-means IVF index is
  * built once per session (in the cold pass), then every pass serves the
  * same query batches through `Knn.ivfWith` and `Knn.lshCosine`, top-10
  * each; a step is one query batch. */
final class VectorSearch(ctx: Ctx) extends Leg {
  import VectorSearch._
  private val spark = ctx.spark
  import spark.implicits._
  private val vs = Gen.vectors(ctx.seed, Spec)
  private var corpus: DataFrame = _
  private var queryBatches: IndexedSeq[DataFrame] = _
  private var cents: DataFrame = _
  private val bits = Knn.autoBits(Spec.vectors.toLong)
  private var recall = Map.empty[String, Double]
  private val topkNodes = scala.collection.mutable.Map.empty[Int, Double]

  def inputRows: Long = Spec.queries.toLong

  def dims: Map[String, Any] = Map("vectors" -> Spec.vectors, "dims" -> Spec.dims,
    "planted_clusters" -> Spec.clusters, "noise" -> Spec.noise,
    "queries_per_batch" -> PerBatch, "query_batches_per_pass" -> rounds,
    "k" -> K, "kmeans_centroids" -> Centroids, "kmeans_iterations" -> Iterations,
    "nprobe" -> NProbe, "lsh_bits" -> bits)


  /** The corpus is served from memory, as an index would be; building
    * the frames runs no Spark job, so the cold pass pays every
    * first-execution cost itself. */
  def prepare(): Unit = {
    corpus = vs.ids.indices.map(i => (vs.ids(i), vs.vecs(i), vs.labels(i)))
      .toDF("vec_id", "embedding", "label")
    queryBatches = vs.queryIds.indices.grouped(PerBatch).map(idx =>
      idx.map(i => (vs.queryIds(i), vs.queries(i))).toDF("vec_id", "embedding"))
      .toIndexedSeq
  }

  private def topk(df: DataFrame): Double = {
    val plan = df.queryExecution.executedPlan.toString
    "TopKPerKey".r.findAllMatchIn(plan).size.toDouble
  }

  def rounds: Int = Spec.queries / PerBatch

  private var nodes = 0.0

  def beginPass(i: Int): Unit = {
    if (i == 0) cents = ctx.span("functions.Knn.kmeans")(
      Knn.kmeans(corpus, "vec_id", "embedding", Centroids, Iterations).localCheckpoint())
    nodes = 0.0
    served = Nil
  }

  /** Query batch `b` of pass `i`: its latency in seconds. */
  def step(i: Int, b: Int): Double = {
    val q = queryBatches(b)
    val t = System.nanoTime()
    // Each span covers building the frame (which runs jobs: the
    // centroid pin) and serving it.
    val (ivf, ivfRows) = ctx.span("functions.Knn.ivfWith") {
      val df = Knn.ivfWith(corpus, q, "vec_id", "embedding", K, cents, NProbe)
      (df, df.collect())
    }
    val (lsh, lshRows) = ctx.span("functions.Knn.lshCosine") {
      val df = Knn.lshCosine(corpus, q, "vec_id", "embedding", K, Spec.dims, bits = bits)
      (df, df.collect())
    }
    val dt = (System.nanoTime() - t) / 1e9
    served = served ++ Seq("ivfWith" -> ivfRows, "lshCosine" -> lshRows)
    if (ctx.tracer.enabled) nodes += topk(ivf) + topk(lsh)
    dt
  }

  def endPass(i: Int): Unit = topkNodes(i) = nodes

  private var served: Seq[(String, Array[Row])] = Nil

  /** Every served batch answers every query, with k neighbours per query
    * for IVF, in descending cosine order. */
  def check(i: Int): Seq[String] =
    served.flatMap { case (n, rows) =>
        val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        val ordered = byQ.values.forall(rs =>
          rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cosine"))
            .sliding(2).forall(p => p.size < 2 || p(0) >= p(1)))
        Seq(
          if (byQ.size != PerBatch) Some(s"$n answered ${byQ.size} of $PerBatch queries") else None,
          if (n == "ivfWith" && !byQ.values.forall(_.length == K)) Some(s"$n returned fewer than $K neighbours") else None,
          if (!ordered) Some(s"$n neighbours out of cosine order") else None
        ).flatten
      }.distinct

  /** The exact leg against an independent top-10, then recall of both
    * ANN legs against the exact leg (outside the timed loop). */
  override def checkOnce(): Seq[String] = {
    val q = queryBatches.head
    val exact = Knn.bruteForce(corpus, q, "vec_id", "embedding", K).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (k, rs) => k -> rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("neighbor_id")).toSeq }
    val qv = q.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val cv = vs.ids.zip(vs.vecs.map(_.map(_.toDouble)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
      d / math.sqrt(na * nb)
    }
    val mismatched = qv.toSeq.flatMap { case (qid, v) =>
      val scored = cv.map { case (id, c) => (id, cos(v, c)) }
        .sortBy { case (id, s) => (-s, id) }
      exactMismatch(exact.getOrElse(qid, Nil), scored, K).map(why => s"query $qid: $why")
    }
    // The cold pass's answers to the first batch, as served.
    def rec(rows: Array[Row]): Double = {
      val got = rows.groupBy(_.getAs[Long]("query_id"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      exact.map { case (k, ns) => ns.count(got.getOrElse(k, Set.empty)) / K.toDouble }
        .sum / exact.size
    }
    val Seq(("ivfWith", ivf), ("lshCosine", lsh)) = served.take(2)
    recall = Map("functions.Knn.ivfWith.recall_at_10" -> rec(ivf),
      "functions.Knn.lshCosine.recall_at_10" -> rec(lsh))
    Seq(
      if (exact.size != PerBatch) Some(s"bruteForce answered ${exact.size} queries") else None,
      if (mismatched.nonEmpty) Some(s"bruteForce top-$K differs from the exact top-$K on " +
        s"${mismatched.size} queries, e.g. ${mismatched.head}") else None
    ).flatten
  }

  override def report: Map[String, Double] = recall

  override def derived(i: Int, c: SparkCounters): Map[String, Double] =
    recall ++ topkNodes.get(i).map(n => "plans.topk_nodes" -> n)
}

object VectorSearch {
  /** Why `got` is not the exact top-`k`, or None if it is. `scored` is
    * every candidate with its cosine, best first. `got` must hold `k`
    * distinct candidates whose cosines equal the exact top-`k`'s rank by
    * rank, so only neighbours tied in cosine (to 1e-9) may swap places. */
  def exactMismatch(got: Seq[Long], scored: Seq[(Long, Double)], k: Int): Option[String] = {
    val cosOf = scored.toMap
    val want = scored.take(k).map(_._2)
    if (got.size != k) Some(s"${got.size} neighbours, not $k")
    else if (got.distinct.size != k) Some("a neighbour is repeated")
    else if (!got.forall(cosOf.contains)) Some("a neighbour is not in the corpus")
    else if (got.map(cosOf).zip(want).exists { case (a, b) => math.abs(a - b) > 1e-9 })
      Some("neighbours differ from the exact top-k in cosine rank order")
    else None
  }

  val Spec = Gen.VecSpec(vectors = 4000, queries = 64)
  val PerBatch = 32
  val K = 10
  val Centroids = 32
  val Iterations = 3
  val NProbe = 4
}
