package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Tables

class KnnSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12 && math.abs(got(1)) < 1e-12)
  }

  test("cosine is null on a zero vector (no NaN poisoning)") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosine($"a", $"b")).collect()(0).isNullAt(0))
  }

  test("bruteForce returns k ranked neighbors, excluding self") {
    val emb = Tables.embeddings(spark, sf)
    val res = Knn.bruteForce(emb, emb.filter($"vec_id" < 3), "vec_id", "embedding", 5)
    val rows = res.select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect()
    assert(rows.length == 15)
    assert(rows.forall { case (q, n, _) => q != n })
    val perQuery = rows.groupBy(_._1)
    assert(perQuery.values.forall(_.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
  }

  test("bruteForce scores a short corpus vector over the common prefix, as cosine does") {
    val q = Seq(1.0f, 2.0f, -0.5f, 3.0f)
    val short = Seq(0.25f, -1.0f, 4.0f)
    val corpus = Seq((1L, q), (2L, short), (3L, q.map(_ * -1.0f))).toDF("id", "v")
    val got = Knn.bruteForce(corpus, corpus.filter($"id" === 1L), "id", "v", 2)
      .filter($"neighbor_id" === 2L).select("cosine").as[Double].collect()
    // The fold over the first three elements, in the kernel's order.
    val (dot, na, nb) = q.zip(short).foldLeft((0.0, 0.0, 0.0)) {
      case ((d, a, b), (x, y)) => (d + x.toDouble * y, a + x.toDouble * x,
        b + y.toDouble * y) }
    val want = dot / (math.sqrt(na) * math.sqrt(nb))
    assert(got.toSeq == Seq(want))
    val direct = corpus.as("a").join(corpus.as("b"), $"a.id" === 1L && $"b.id" === 2L)
      .select(VectorFunctions.cosine($"a.v", $"b.v")).as[Double].head()
    assert(direct == want)
  }

  test("kmeans yields the requested centroids with the input dimension") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Knn.kmeans(emb, "vec_id", "embedding", centroids = 8, iterations = 2)
      .select($"centroid_id", size($"centv").as("dim"))
      .as[(Long, Int)].collect()
    assert(cents.length == 8)
    assert(cents.forall(_._2 == 64))
  }

  test("the kmeans training sample plans as a pure prune: no exchange, no sort") {
    val vecs = spark.range(0, 500)
      .select($"id".as("vid"), array(lit(1.0), lit(2.0)).as("v"))
    val sample = Knn.trainSample(vecs, cap = 100, n = 500)
    val plan = sample.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Sort"),
      s"sampling must never shuffle or sort the corpus:\n$plan")
    // Bernoulli, so only expected-size bounds: ~100 of 500 with keep
    // rounded up — wide tolerance, zero flake.
    val got = sample.count()
    assert(got > 20 && got < 300, s"sample size far off expectation: $got")
    // Membership is a pure function of vid: repartitioned input, same set.
    val again = Knn.trainSample(vecs.repartition(7), cap = 100, n = 500)
      .select("vid").as[Long].collect().toSet
    assert(again == sample.select("vid").as[Long].collect().toSet)
  }

  test("kmeans jobs: a fixed set-up, then one aggregate per Lloyd's iteration") {
    val emb = Tables.embeddings(spark, sf)
    def jobs(iterations: Int): Int =
      jobsStartedBy(Knn.kmeans(emb, "vec_id", "embedding", centroids = 8,
        iterations = iterations))._2
    // Set-up: the sample's count (two AQE stages), its pin and the
    // initial centroids' collect. Each iteration is the two shuffle
    // stages and the result of its mean aggregation; the centroids ride
    // in as a literal, so no broadcast job (a broadcast LocalRelation
    // made it 4 per iteration).
    assert((jobs(1), jobs(3)) == (4 + 3, 4 + 3 * 3))
  }

  // Note: on weakly-clustered fixture embeddings trained centroids are
  // not guaranteed to beat naive ones (measured 0.85 vs 0.92 once);
  // k-means pays off on genuinely clustered corpora, so this asserts a
  // healthy absolute recall only.
  test("ivfWith(kmeans) recall@10 >= 0.7 vs brute force on the fixture embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Knn.bruteForce(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
        .intersect(exact).size.toDouble / exact.size
    val trained = recallOf(Knn.ivfWith(emb, queries, "vec_id", "embedding",
      10, Knn.kmeans(emb, "vec_id", "embedding", 16, 3), 4))
    assert(trained >= 0.7, s"trained recall $trained")
  }

  test("quantized codes are in [0,255] and dot ranking tracks exact cosine") {
    val emb = Tables.embeddings(spark, sf)
    val stats = Knn.quantizeStats(emb, "embedding")
    val codes = Knn.quantizeCodes(emb, "vec_id", "embedding", stats)
    val bounds = codes.select(array_min($"codes").as("lo"), array_max($"codes").as("hi"))
      .agg(min($"lo"), max($"hi")).as[(Long, Long)].collect().head
    assert(bounds._1 >= 0L && bounds._2 <= 255L)
    // Baseline with the SAME objective (max inner product) on raw
    // doubles: the only difference left is 8-bit quantization error, so
    // agreement should be near-perfect.
    val queries = emb.filter($"vec_id" < 10)
    val q = queries.select($"vec_id".as("query_id"),
      VectorFunctions.toDouble($"embedding").as("qv"))
    val c = emb.select($"vec_id".as("neighbor_id"),
      VectorFunctions.toDouble($"embedding").as("cv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"dot".desc, $"neighbor_id")
    val exactDot = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .withColumn("dot", aggregate(zip_with($"qv", $"cv", _ * _), lit(0.0), _ + _))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Knn.bruteForceQuantized(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = quant.intersect(exactDot).size.toDouble / exactDot.size
    assert(recall >= 0.8, s"quantized-vs-exact-dot recall $recall")
  }

  test("pqTopK codes address every subspace; ADC ranking tracks exact dot") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    // Exact max-inner-product baseline (same objective as ADC).
    val q = queries.select($"vec_id".as("query_id"),
      VectorFunctions.toDouble($"embedding").as("qv"))
    val c = emb.select($"vec_id".as("neighbor_id"),
      VectorFunctions.toDouble($"embedding").as("cv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"dot".desc, $"neighbor_id")
    val exactDot = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .withColumn("dot", aggregate(zip_with($"qv", $"cv", _ * _), lit(0.0), _ + _))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Knn.pqTopK(emb, queries, "vec_id", "embedding", k = 10)
    val rows = pq.select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect()
    // Shape: 10 self-free ranked rows per query.
    assert(rows.groupBy(_._1).forall { case (qid, rs) =>
      rs.length == 10 && rs.map(_._3).sorted.toSeq == (1 to 10) &&
        !rs.exists(_._2 == qid)
    })
    val got = rows.map(r => (r._1, r._2)).toSet
    val recall = got.intersect(exactDot).size.toDouble / exactDot.size
    // 16 subspaces x 16 centroids on near-random 64-dim vectors is a
    // coarse quantizer; planted near-dup pairs still surface. Real
    // clustered corpora sit far above this floor.
    assert(recall >= 0.25, s"pq-vs-exact-dot recall $recall")
  }

  test("lshCosine recall@10 >= 0.4 vs brute force, ranked and self-free") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Knn.bruteForce(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val res = Knn.lshCosine(emb, queries, "vec_id", "embedding",
      k = 10, dims = 64)
    val rows = res.select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect()
    assert(rows.forall { case (q, n, _) => q != n })
    // rk is dense 1..n per query (n <= 10: LSH may yield fewer candidates)
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length).toSeq)
    }
    val recall = rows.map(r => (r._1, r._2)).toSet
      .intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"lsh recall $recall") // measured 0.66 at T=24/B=6
  }

  test("lshCosine auto-sizes signature bits; auto == pinned at fixture scale (r12)") {
    // The search-side twin of DedupSpec's embeddingLshPairs autoBits
    // law: bits = 0 resolves Knn.autoBits(n) — the ONE shared
    // implementation — so the adaptive default must return exactly the
    // result of pinning that resolved width (same planes, signatures,
    // candidates, verify). Comparing against autoBits(count) rather
    // than a literal 6 keeps the law scale-independent: it cannot
    // silently break the day the fixture crosses a growth boundary.
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 5)
    def p(bits: Int) = Knn.lshCosine(emb, queries, "vec_id", "embedding",
        k = 10, dims = 64, bits = bits)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(p(0) == p(Knn.autoBits(emb.count())))
  }

  test("multi-probe lifts LSH recall, monotone per query, probes bounded") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Knn.bruteForce(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def hits(probes: Int) = Knn.lshCosine(emb, queries, "vec_id",
        "embedding", k = 10, dims = 64, probes = probes)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      .intersect(exact)
    val h0 = hits(0)
    val h2 = hits(2)
    // Per-query monotone: candidates only grow, ranking is the exact
    // cosine, and anything displacing a true top-10 member is itself
    // top-10 — so every query's hit count is >= its single-probe one.
    val byQ0 = h0.groupBy(_._1).view.mapValues(_.size).toMap
    val byQ2 = h2.groupBy(_._1).view.mapValues(_.size).toMap
    byQ0.foreach { case (q, n0) =>
      assert(byQ2.getOrElse(q, 0) >= n0, s"query $q lost recall") }
    // Floor raised over the single-probe 0.4: the sf0.01 recall
    // harness measures 0.94 at T=24/B=6/probes=2 vs 0.66 single-probe
    // (knn_recall_at_k, r9).
    val recall = h2.size.toDouble / exact.size
    assert(recall >= 0.6, s"lsh_mp recall $recall")
    // bits pinned explicitly: this asserts the probes<=bits VALIDATION,
    // not the auto rule — with the r12 adaptive default the resolved B
    // would drift to 7 the moment the fixture crossed 2048 vectors and
    // probes = 7 would become legal (r12 review find).
    intercept[IllegalArgumentException](
      Knn.lshCosine(emb, queries, "vec_id", "embedding", k = 10,
        dims = 64, bits = 6, probes = 7)) // probes > bits
  }

  test("autoProbes law, probes = -1 resolution, tablesFor calibration (r13)") {
    // The width-scaled budget is B-4 on the whole reachable domain
    // (autoBits floors at 6), always within [0, B], and grows one
    // probe per width step — the probe-20e compensation rule.
    (6 to 63).foreach { b =>
      assert(Knn.autoProbes(b) == b - 4, s"autoProbes($b)")
      assert(Knn.autoProbes(b) >= 0 && Knn.autoProbes(b) <= b)
    }
    // probes = -1 resolves the SAME rule: identical results to passing
    // the resolved budget explicitly (same planes, same fan-out).
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 5)
    val b = Knn.autoBits(emb.count())
    def p(probes: Int) = Knn.lshCosine(emb, queries, "vec_id", "embedding",
        k = 10, dims = 64, bits = b, probes = probes)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(p(-1) == p(Knn.autoProbes(b)))
    // tablesFor pins: independently-computed values of
    // ceil(ln(1-r)/ln(1-p1^B)) at the near-dup design point (c = 0.9:
    // p1 = 0.85644) — T=24 comfortably covers B=13 (needs 21), while
    // B=6 needs only 6; and the function is monotone in bits and
    // target on a sweep.
    assert(Knn.tablesFor(0.9, 13, 0.95) == 21)
    // The default-coverage BOUNDARY: T=24 covers the design point only
    // through B=13; B=14 already needs 25 tables (the scaladoc's
    // ~262k-vector coverage claim, pinned on both sides).
    assert(Knn.tablesFor(0.9, 14, 0.95) == 25)
    assert(Knn.tablesFor(0.9, 6, 0.95) == 6)
    (6 until 20).foreach { bb =>
      assert(Knn.tablesFor(0.9, bb + 1, 0.9) >= Knn.tablesFor(0.9, bb, 0.9))
      assert(Knn.tablesFor(0.9, bb, 0.95) >= Knn.tablesFor(0.9, bb, 0.9))
    }
    intercept[IllegalArgumentException](Knn.tablesFor(0.9, 13, 1.0))
    intercept[IllegalArgumentException](Knn.tablesFor(1.5, 13, 0.9))
  }

  test("autoTables law, 24 floor, and cross-engine ceil margin (r14)") {
    // The pairs path's width-scaled TABLE budget: the 24 floor keeps
    // every ≤B=13 geometry (every gate scale) byte-identical to the
    // historical fixed default, and past the boundary T follows the
    // probe-20e-verified union bound — 25 at B=14, 30 at B=15
    // (independently computed: q(14)=24.7014, q(15)=29.1029).
    (6 to 13).foreach(b =>
      assert(Knn.autoTables(b) == 24, s"autoTables($b)"))
    assert(Knn.autoTables(14) == 25)
    assert(Knn.autoTables(15) == 30)
    (6 until 40).foreach(b =>
      assert(Knn.autoTables(b + 1) >= Knn.autoTables(b)))
    // Cross-engine boundary guard: the DuckDB nt CTE computes the same
    // quotient with ln() of literal subtractions where Scala uses
    // log1p — the two agree to ~1e-13 relative, so ceil could only
    // diverge if the quotient sat within that distance of an integer.
    // Pin the margin at > 1e-3 for every width the rule can meet below
    // ~35 trillion vectors (measured min on 6..40: 0.0226 at B=37).
    val p1 = 1.0 - math.acos(Knn.PairsDesignCosine) / math.Pi
    (6 to 40).foreach { b =>
      val q = math.log1p(-Knn.PairsTargetRecall) /
        math.log1p(-math.pow(p1, b))
      val frac = math.abs(q - math.rint(q))
      assert(frac > 1e-3, s"ceil margin at B=$b: q=$q")
    }
  }

  test("ivfPqWith == ivfPq on the deterministic stand-ins; trained books (r14)") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "score", "rk")
        .as[(Long, Long, Double, Int)].collect().toSet
    val viaInt = rows(Knn.ivfPq(emb, queries, "vec_id", "embedding",
      k = 10, centroids = 16, nprobe = 4))
    val cents = emb.orderBy($"vec_id").limit(16)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centv"))
    val viaWith = rows(Knn.ivfPqWith(emb, queries, "vec_id", "embedding",
      k = 10, cents = cents, nprobe = 4))
    assert(viaInt == viaWith && viaInt.nonEmpty)
    // Trained codebooks: same rank-addressed one-row flat format as
    // pqCodebooks (m*k sub-arrays of dims/m components), consumable by
    // the same ADC scorer — and the composed trained plan returns a
    // full ranked top-k per query.
    val books = Knn.pqCodebooksTrained(emb, "vec_id", "embedding",
      m = 4, k = 4, dims = 64, iterations = 2)
    val row = books.as[Seq[Seq[Double]]].collect()
    assert(row.length == 1 && row.head.length == 16 &&
      row.head.forall(_.length == 16))
    val trained = Knn.ivfPqWith(emb, queries, "vec_id", "embedding",
      k = 10, cents = cents, nprobe = 4, m = 4, codebook = 4,
      booksOpt = Some(books))
    val perQ = trained.groupBy($"query_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.max($"rk").as("mx"))
      .as[(Long, Long, Int)].collect()
    assert(perQ.length == 5 && perQ.forall(r => r._2 == 10 && r._3 == 10))
  }

  test("ivfPq refine leg degenerates to ivfWith at refine >= candidates (r14)") {
    // The law that pins the exact-re-rank implementation: with a refine
    // budget covering every probed candidate, ADC selection selects
    // everything and the exact re-rank IS ivfWith's scoring — same
    // buckets, same probes, same cosine, same tiebreaks. Probe 23b is
    // the scale receipt for WHY the leg exists (ADC preserves candidacy,
    // not rank); this is the correctness pin for WHAT it computes.
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 5)
    val cents = emb.orderBy($"vec_id").limit(16)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centv"))
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rk")
        .as[(Long, Long, Double, Int)].collect().toSet
    val refined = rows(Knn.ivfPqWith(emb, queries, "vec_id", "embedding",
      k = 10, cents = cents, nprobe = 4, refine = n))
    val exact = rows(Knn.ivfWith(emb, queries, "vec_id", "embedding",
      k = 10, cents, nprobe = 4))
    assert(refined == exact && refined.nonEmpty)
    // And a small refine budget returns a full ranked top-k per query
    // (the ADC candidate pool at this geometry is >= 50 per query).
    val small = Knn.ivfPqWith(emb, queries, "vec_id", "embedding",
      k = 10, cents = cents, nprobe = 4, refine = 50)
      .groupBy($"query_id").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(Long, Long)].collect()
    assert(small.length == 5 && small.forall(_._2 == 10))
  }

  test("lshCosine recovers >=70% of cosine>=0.4 pairs as candidates") {
    val emb = Tables.embeddings(spark, sf)
    // Ground-truth near-dup pairs (the dedup use case LSH exists for).
    val truth = Knn.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // Every vector as its own query with k = corpus size: the result
    // contains (q, n) iff the pair collided in some hash table.
    val n = emb.count().toInt
    val cand = Knn.lshCosine(emb, emb, "vec_id", "embedding",
      k = n, dims = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val recovered = truth.intersect(cand).size.toDouble / truth.size
    assert(recovered >= 0.7, s"pair recovery $recovered") // measured 0.81
  }

  test("lshPlanes is deterministic and reproducible across sessions") {
    val a = Knn.lshPlanes(spark, 2, 3, 4).orderBy($"t", $"p")
      .select($"w").as[Seq[Double]].collect()
    val b = Knn.lshPlanes(spark, 2, 3, 4).orderBy($"t", $"p")
      .select($"w").as[Seq[Double]].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 6 && a.forall(w => w.length == 4 &&
      w.forall(x => x >= -1.0 && x < 1.0)))
    // Driver-built: reading the planes starts no Spark job, and every
    // component equals the Spark-expression recipe (Sketches.unit52 of
    // "lsh:t:p:d", * 2 - 1) bit for bit.
    val (got, jobs) = jobsStartedBy(Knn.lshPlanes(spark, 3, 7, 16)
      .select($"t", $"p", $"w").as[(Int, Int, Seq[Double])].collect())
    assert(jobs == 0, s"$jobs jobs")
    val ref = LshReference.planes(spark, 3, 7, 16)
      .select($"t", $"p", $"w").as[(Int, Int, Seq[Double])].collect()
    def bits(rows: Array[(Int, Int, Seq[Double])]) = rows.sortBy(r => (r._1, r._2))
      .map(r => (r._1, r._2, r._3.map(java.lang.Double.doubleToRawLongBits)))
      .toSeq
    assert(got.length == 21 && bits(got) == bits(ref))
  }

  test("lshCosine rows equal the per-table join plan's, in at most 3 jobs per call") {
    // LshReference.lshCosine is the plan before the signing kernel and
    // in-row matching: per-table explode, (t, bucket) join, pair-dedup
    // aggregate. Same candidates, same cosine kernel, same order.
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    def rows(df: DataFrame) = df.as[(Long, Long, Double, Int)].collect()
      .sortBy(r => (r._1, r._4)).toSeq
    val sizes = for (bits <- Seq(6, 7, 11); probes <- Seq(0, -1, 3)) yield {
      val (got, jobs) = jobsStartedBy(rows(Knn.lshCosine(emb, queries,
        "vec_id", "embedding", k = 10, dims = 64, bits = bits,
        probes = probes)))
      val want = rows(LshReference.lshCosine(emb, queries, "vec_id",
        "embedding", k = 10, dims = 64, tables = 24, bits = bits,
        probes = probes))
      assert(got == want, s"bits $bits, probes $probes")
      // Collect the queries' probe keys, then the top-k shuffle's map
      // stage and the result stage (the per-table join plan ran 6).
      assert(jobs <= 3, s"bits $bits, probes $probes: $jobs jobs")
      got.size
    }
    assert(sizes.forall(_ > 0), sizes)
  }

  test("ivf recall@10 >= 0.6 vs brute force on the fixture embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Knn.bruteForce(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Knn.ivf(emb, queries, "vec_id", "embedding",
      k = 10, centroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"ivf recall $recall")
  }

  test("ivfPq with nprobe = centroids degenerates to exactly pqTopK") {
    // Probing every bucket makes the IVF prune a no-op, so the composed
    // operator must return pqTopK's rows bit for bit — the law that pins
    // the composition against both parents.
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 5)
    val full = Knn.ivfPq(emb, queries, "vec_id", "embedding",
      k = 10, centroids = 16, nprobe = 16)
      .select("query_id", "neighbor_id", "score", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val pq = Knn.pqTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id", "score", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full == pq)
  }

  test("ivfPq recall@10 >= 0.4 vs brute force (double pruning trades recall)") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Knn.bruteForce(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Knn.ivfPq(emb, queries, "vec_id", "embedding",
      k = 10, centroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"ivfPq recall $recall")
  }

  test("knn_recall_at_k harness: full method grid, bounded recall, agrees with direct intersection") {
    val rows = graft.SparkEntry.queries("knn_recall_at_k")(spark, sf)
      .as[(String, Long, Double)].collect()
    assert(rows.map(_._1).toSet ==
      Set("ivf", "lsh", "lsh_mp", "pq", "sq", "ivfpq"))
    val nq = rows.map(_._2).distinct.length
    assert(rows.length == 6 * nq, "one row per (method, query) cell")
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    // Cross-check one method against an independently computed recall:
    // the harness must report exactly |approx ∩ exact| / k.
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter($"vec_id" < 5)
    val exact = Knn.bruteForce(emb, qs, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val sq = Knn.bruteForceQuantized(emb, qs, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val expected = exact.groupBy(_._1).map { case (q, ns) =>
      q -> ns.count(sq.contains).toDouble / 10.0
    }
    rows.filter(_._1 == "sq").foreach { case (_, q, r) =>
      assert(r == expected(q), s"sq recall mismatch for query $q")
    }
  }
}
