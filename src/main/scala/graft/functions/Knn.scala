package graft.functions

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftSqlShim, Row,
  SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  LongType, MapType, StructField, StructType}

import graft.functions.expressions.{LshCollisions, LshSignature}

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2.7): brute-force cosine top-k as the exact baseline, and two
  * bucketed variants as scale paths — IVF (data-dependent centroids) and
  * random-hyperplane LSH (data-independent, one-pass, streamable).
  *
  * Scale shape: brute force is |Q|×|N| — fine when Q is a small probe set
  * (broadcast Q, stream N, never shuffle N). IVF cuts the candidate set to
  * the probed buckets: cost |N|×C for assignment (one pass, C centroids
  * broadcast) plus |Q|×(nprobe/C)×|N| for search — the standard recall/cost
  * trade. LSH replaces the centroid training with T×B fixed hyperplanes:
  * bucketing is a pure projection (no corpus statistics), so new corpus
  * rows bucket independently — the variant that works under streaming
  * ingest and incremental index maintenance.
  *
  * Every search here scores with the native kernels of
  * [[VectorFunctions]] (cosine, dot, squared L2). All query, corpus and
  * centroid vectors must have the same length: a shorter vector is
  * scored over the common prefix, with no error.
  */
object Knn {

  /** Exact top-k cosine neighbors for each query vector. `queries` and
    * `corpus` both carry (idCol, vecCol); a query is never its own
    * neighbor. Q is broadcast: the corpus is scanned once, unshuffled,
    * except the final per-query top-k window on |Q|×k rows. */
  def bruteForce(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    topPerQuery(scored, "cosine", "neighbor_id", k)
      .select("query_id", "neighbor_id", "cosine", "rk")
  }

  /** The per-query top-n of every search here: each `query_id`'s rows
    * ranked by `score` descending, ties to the smaller `tie`, ranks 1..n
    * kept as `rk` — the window shape the top-k plan rewrite recognizes. */
  private def topPerQuery(scored: DataFrame, score: String, tie: String,
      n: Int): DataFrame =
    scored.withColumn("rk", row_number().over(Window
        .partitionBy(col("query_id")).orderBy(col(score).desc, col(tie))))
      .filter(col("rk") <= n)

  /** Exact all-pairs embedding near-dup detection: every unordered pair
    * with cosine ≥ threshold. Quadratic — the exact baseline; at corpus
    * scale, prune candidates with [[ivfAssign]] buckets or LSH first. */
  def cosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** IVF bucket assignment: nearest (by cosine) of C deterministic
    * centroids — here the corpus vectors with the C smallest ids, a
    * deterministic stand-in for sampled/trained centroids (k-means training
    * is an offline step out of query scope). */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Int): DataFrame =
    assignWith(corpus, idCol, vecCol,
      smallestIdCentroids(corpus, idCol, vecCol, centroids))

  /** The deterministic stand-in centroid table of [[ivfAssign]],
    * [[ivfPq]] and [[ivf]]: the `centroids` smallest-id corpus vectors
    * as (centroid_id, centv). */
  private def smallestIdCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(centroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centv"))

  /** Bucket assignment against a caller-provided (centroid_id, centv)
    * table — e.g. [[kmeans]]-trained centroids. Same shuffle-free
    * broadcast-argmin projection as [[ivfAssign]]. */
  def assignWith(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    assignBuckets(corpus.select(col(idCol).as("vid"), col(vecCol).as("v")),
      cents)

  /** Shuffle-free nearest-centroid assignment: the centroid table folds
    * into ONE array row, rides a broadcast, and each vector picks its
    * bucket with an inline argmax over that array — a pure projection.
    * The window formulation (partition per VECTOR over |N|×C scored
    * rows) shuffles the entire corpus×centroid product, which is exactly
    * what dies first at 100 TB. Tiebreak mirrors the window's
    * (sim DESC, centroid_id ASC) as a struct MIN over (-sim,
    * centroid_id): smallest negated sim = largest sim, then smallest
    * centroid_id — the id rides the struct un-negated, so ids of ANY
    * orderable type (strings included) work; null sims (zero vectors)
    * rank below every real cosine via coalesce(-2). */
  private def assignBuckets(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents.groupBy()
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centv"))))
        .as("__cents"))
    vecs.crossJoin(broadcast(centArr))
      .select(col("vid"), col("v"), array_min(transform(col("__cents"),
        c => struct(
          (-coalesce(VectorFunctions.cosine(col("v"), c.getField("centv")),
            lit(-2.0)))
            .as("negsim"),
          c.getField("centroid_id").as("cid")))).as("__best"))
      .select(col("vid"), col("v"), col("__best.cid").as("bucket"))
  }

  /** Lloyd's k-means over the embedding column, expressed as DataFrame
    * iterations: assign (cross join C broadcast centroids + argmin
    * distance window) then recompute means (zip_with elementwise sums /
    * counts). Deterministic init = the C smallest-id vectors of the
    * training set. Returns (centroid_id, centroid) with double elements.
    *
    * Scale: training runs on a BOUNDED sample, not the corpus — centroid
    * quality needs only O(points-per-centroid) vectors (FAISS trains IVF
    * on 256/centroid by default), so ~`trainPerCentroid * centroids`
    * rows cap the iterative working set no matter how large the corpus
    * is. The sample ([[pinnedTrainSample]]) is a hash-threshold
    * Bernoulli filter on the id — membership is layout- and
    * run-invariant, and NO sort or shuffle touches the corpus
    * ([[trainSample]]). It is pinned once, so each iteration is one pass
    * over a small local table (C small, broadcast) plus a C-group
    * aggregate — the standard distributed k-means. `trainPerCentroid <=
    * 0` disables sampling (exact full-corpus Lloyd's). */
  def kmeans(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Int, iterations: Int,
      trainPerCentroid: Int = 256,
      replayable: Boolean = false): DataFrame = {
    val dims = VectorFunctions.toDouble(col(vecCol))
    val all = corpus.select(col(idCol).as("vid"), dims.as("v"))
    val vecs = pinnedTrainSample(all, trainPerCentroid, centroids,
      if (replayable) md5Sample52 _ else xxSample52)
    val init = vecs.orderBy(col("vid")).limit(centroids)
      .select(col("vid").as("centroid_id"), col("v").as("centv"))
    trainLoop(vecs, init, iterations, replayable)
  }

  /** The 52-bit md5-prefix sample hash of the REPLAYABLE k-means tier
    * (the repo's hash52 convention — DuckDB replays
    * ('0x'||substr(md5(vid||':km-v1'),1,13))::BIGINT); xxhash64 stays
    * the production default. */
  private[graft] def md5Sample52(vid: Column): Column =
    conv(substring(md5(concat(vid.cast("string"), lit(":km-v1"))), 1, 13),
      16, 10).cast("long")

  /** The lazy bounded Bernoulli training sample of [[kmeans]]: keep a
    * row iff xxhash64(vid) lands under ~cap/n of a 2⁵² hash range — a
    * pure projection prune, no sort or shuffle on `all`. Exposed
    * package-private so the no-exchange property is plan-asserted
    * (KnnSpec) — the take-k formulation it replaced silently planned a
    * GLOBAL sort past the topKSortFallbackThreshold.
    *
    * The hash range must be large enough that the cutoff keeps resolving
    * fractions of a row: a 2²⁰ range pins the cutoff at 1 once
    * n > cap·2²⁰, and from there the expected sample is n/2²⁰ — growing
    * LINEARLY with the corpus instead of staying capped, which defeats
    * the bounded-working-set guarantee exactly at the 100 TB design
    * point. 2⁵² still fits a Long cutoff while granting ~4.5e15 distinct
    * thresholds; the scalar is driver-side BigInt so cap·2⁵² cannot
    * overflow. Ceil keeps the EXPECTED size ≥ cap (the draw itself is
    * binomial, so the realized size wobbles around it either way); the
    * degenerate-draw fallback in [[pinnedTrainSample]] covers an unlucky
    * tail. */
  private[graft] def trainSample(all: DataFrame, cap: Long, n: Long,
      hash52: Column => Column = xxSample52): DataFrame = {
    val range = 1L << 52
    val keep = math.max(1L,
      ((BigInt(cap) * range + n - 1) / n).toLong) // ceil(cap·range/n)
    all.where(hash52(col("vid")) < lit(keep))
  }

  private val xxSample52: Column => Column =
    vid => pmod(xxhash64(vid), lit(1L << 52))

  /** The pinned training set of [[kmeans]] and [[pqCodebooksTrained]]:
    * a [[trainSample]] of ~`trainPerCentroid * centroids` rows, else all
    * of `all` — when the cap covers it, sampling is off (`<= 0`), or the
    * draw came out smaller than `centroids`. */
  private def pinnedTrainSample(all: DataFrame, trainPerCentroid: Int,
      centroids: Int, hash52: Column => Column = xxSample52): DataFrame =
    if (trainPerCentroid <= 0) all.localCheckpoint()
    else {
      val cap = trainPerCentroid.toLong * centroids
      val n = all.count()
      if (cap >= n) all.localCheckpoint()
      else {
        val sampled = trainSample(all, cap, n, hash52).localCheckpoint()
        if (sampled.count() < centroids) all.localCheckpoint() else sampled
      }
    }

  private def trainLoop(vecs: DataFrame, init: DataFrame,
      iterations: Int, replayable: Boolean = false): DataFrame = {
    val spark = vecs.sparkSession
    val rowSchema = init.schema // (centroid_id: T, centv: array<double>)
    // Centroid state lives on the DRIVER between iterations, as plain
    // collected rows. This adds no scale assumption the design didn't
    // already carry: the broadcast-argmin assignment folds ALL C
    // centroids into one in-memory array row on every executor, so ≤C
    // rows were already bounded by executor memory. What driver-side
    // state removes is per-iteration fixed cost — the earlier
    // localCheckpoint form paid a checkpoint job plus a broadcast-build
    // job per iteration just to hand ≤C rows to the next one; now each
    // Lloyd's iteration is exactly ONE aggregation (assignment + mean
    // aggregation over the pinned sample, collected straight back; its
    // shuffle stages are its only jobs, KnnSpec-pinned), which at sf0.1
    // is the difference between overhead-bound and data-bound training.
    var cents: Array[Row] = init.collect()
    for (_ <- 0 until iterations) {
      // Same shuffle-free argmin idea as assignBuckets, but the
      // centroids are already on the driver, so they ride in as ONE
      // literal array column: no LocalRelation, no broadcast and so no
      // broadcast job (a BroadcastExchange over a LocalTableScan runs
      // one); the literal still reaches each executor once, inside the
      // stage's broadcast task binary. Each vector picks the nearest
      // with an inline struct MIN over (d2, centroid_id) — no |N|×C
      // window shuffle per iteration, and ids of any orderable type
      // work. The array is deliberately NOT sorted: struct MIN under
      // Spark's total ordering is order-independent when centroid ids
      // are distinct (d2 ties break on cid), and an array_sort here
      // would re-sort per corpus ROW, not once.
      val centArr = GraftSqlShim.column(
        Literal.create(cents.toSeq, ArrayType(rowSchema)))
      val assigned = vecs
        .select(col("v"), array_min(transform(centArr, c =>
          struct(
            VectorFunctions.l2sq(col("v"), c.getField("centv")).as("d2"),
            c.getField("centroid_id").as("cid")))).as("__best"))
        .select(col("__best.cid").as("centroid_id"), col("v"))
      // Elementwise mean via position explode. Production: plain avg()
      // (means are engine-internal, reduction order free). Replayable:
      // the repo's exact recipe — DECIMAL(28,10) term sums (order-free)
      // cast to double ONCE, one IEEE division by the count, round at
      // 8 — making every centroid coordinate a pure function of the
      // data, which is what lets the dedup_semantic_trained oracle
      // replay all of Lloyd's iterations as chained CTEs. The collect
      // is the iteration's single action AND the next iteration's
      // input, so plans never nest across iterations.
      val meanExpr =
        if (replayable)
          round(sum(col("x").cast(
              org.apache.spark.sql.types.DecimalType(28, 10))).cast("double")
            / count(lit(1)).cast("double"), 8)
        else avg(col("x"))
      cents = assigned
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(meanExpr.as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"),
          transform(col("pm"), e => e.getField("m")).as("centv"))
        .collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(cents: _*), rowSchema)
  }

  /** Per-dimension scalar-quantization stats over the corpus: ONE row
    * (mins array<double>, scales array<double>), scale_d = (max_d -
    * min_d) / (levels - 1). min/max are order-independent, so the stats
    * are exactly reproducible anywhere. */
  def quantizeStats(corpus: DataFrame, vecCol: String,
      levels: Int = 256): DataFrame =
    corpus.select(posexplode(VectorFunctions.toDouble(col(vecCol)))
        .as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("pm"))
      .select(transform(col("pm"), e => e.getField("mn")).as("mins"),
        transform(col("pm"), e =>
          (e.getField("mx") - e.getField("mn")) / lit((levels - 1).toDouble))
          .as("scales"))

  /** int8-style code vectors plus their reconstructions: code_d =
    * floor((x_d - min_d) / scale_d) clamped to [0, levels-1] (zero-range
    * dimensions code to 0), recon_d = min_d + code_d * scale_d. The
    * 1-byte codes are what a 100 TB store persists (4x smaller scans);
    * reconstruction happens at score time, never materialized at rest.
    * All arithmetic is IEEE-deterministic, so codes AND reconstructions
    * are exactly reproducible on any engine. The stats row is broadcast;
    * the corpus is never shuffled. */
  def quantizeCodes(corpus: DataFrame, idCol: String, vecCol: String,
      stats: DataFrame, levels: Int = 256): DataFrame =
    corpus.crossJoin(broadcast(stats))
      .select(col(idCol).as("vid"), col("mins"), col("scales"),
        transform(VectorFunctions.toDouble(col(vecCol)), (x, i) => {
          val mn = element_at(col("mins"), i + 1)
          val sc = element_at(col("scales"), i + 1)
          when(sc > 0.0,
            least(greatest(floor((x - mn) / sc), lit(0L)), lit(levels - 1L)))
            .otherwise(lit(0L))
        }).as("codes"))
      // Separate projection: `codes` is a multi-use attribute here, so
      // CollapseProject keeps the floor/clamp chain computed once.
      .select(col("vid"), col("codes"),
        transform(col("codes"), (c, i) =>
          element_at(col("mins"), i + 1) +
            c.cast("double") * element_at(col("scales"), i + 1)).as("recon"))

  /** Brute-force top-k over QUANTIZED vectors, ranked by the dot product
    * of code reconstructions (asymmetric-distance style: store 1-byte
    * codes, de-quantize at score time). Against an exact-dot baseline
    * the only error left is 8-bit rounding. Deterministic tiebreaks. */
  def bruteForceQuantized(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, levels: Int = 256): DataFrame = {
    // One-row stats table, two quantizeCodes consumers: pin so the
    // per-dimension min/max corpus aggregate runs once.
    val stats = quantizeStats(corpus, vecCol, levels).localCheckpoint()
    val c = quantizeCodes(corpus, idCol, vecCol, stats, levels)
    val q = quantizeCodes(queries, idCol, vecCol, stats, levels)
      .select(col("vid").as("query_id"), col("recon").as("qr"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vid"))
      .withColumn("dot", VectorFunctions.dot(col("qr"), col("recon")))
    topPerQuery(scored, "dot", "vid", k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("dot"),
        col("rk"))
  }

  /** THE adaptive LSH signature-width rule — B = max(6, ⌈log₂(n/32)⌉),
    * the single implementation shared by search ([[lshCosine]]) and
    * near-dup pair generation
    * ([[graft.dedup.Dedup.embeddingLshPairs]]): buckets grow
    * with the corpus so expected cell population stays ~32 and
    * candidate volume stays ~linear (a FIXED B is the measured
    * scale-killer — 2^B buckets per table at every N). Computed by
    * INTEGER bit length, not floating logs: ⌈log₂(n/32)⌉ =
    * ⌈log₂ n⌉ − 5 and ⌈log₂ n⌉ = bitLength(n−1), so the rule is exact
    * at power-of-two boundaries where `log(n)/log(2)` can round across
    * the ceil (measured: n = 32·2²⁹ gives 29.000000000000004). The
    * DuckDB oracles derive the same B with float `log2`, which agrees
    * with this integer form for every n below ~4e15 (a float-log2
    * divergence needs the fractional part to vanish under one ulp) and
    * EXACTLY at powers of two, where IEEE log2 is exact. */
  def autoBits(n: Long): Int = {
    val m = math.max(1L, n)
    val ceilLog2 =
      if (m <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.max(6, ceilLog2 - 5)
  }

  /** THE width-scaled multi-probe budget — the recall compensation that
    * rides [[autoBits]] (r13, SCALING.md probe 20e): as the adaptive
    * width grows with the corpus, per-table collision probability
    * (1-θ/π)^B shrinks, and the measured search recall@10 of the
    * registered geometry fell 0.87 (B=6 ceiling) → 0.11 at B=13 on a
    * near-random corpus. Probing each query's least-|margin| Hamming-1
    * buckets recovers most of it at ~no wall cost (candidates stay
    * output-proportional because each probed bucket holds ~32 rows by
    * the autoBits invariant): probes = B−4 measured 0.50 at B=13 and
    * 0.76 at B=11 vs 0.20/0.47 for DOUBLING tables at 2× bucketing
    * cost. The rule is 2 extra probes at the gate-scale floor (B=6 —
    * exactly the registered multi-probe gate's historical budget, so
    * gate results are unchanged) plus one probe per width step beyond
    * it: min(B, max(2, B−4)) ≡ B−4 for every B the autoBits floor can
    * produce (B ≥ 6). The DuckDB oracles derive the same budget as
    * `nbits - 4` from the shared nb CTE. */
  def autoProbes(bits: Int): Int = math.min(bits, math.max(2, bits - 4))

  /** The near-dup PAIRS design point the width-scaled table budget is
    * calibrated for: a pair at cosine 0.9 must be recalled with
    * p ≥ 0.95 (SemDeDup's semantic-duplicate regime — real duplicate
    * pairs sit at 0.9+, and the 0.4 gate threshold is a filter, not
    * the must-not-miss point). Shared by [[autoTables]] and the DuckDB
    * oracle's `nt` CTE so the two sides can never drift apart. */
  val PairsDesignCosine: Double = 0.9
  val PairsTargetRecall: Double = 0.95

  /** THE width-scaled TABLE budget of the pairs path — the recall
    * compensation that rides [[autoBits]] on the candidate-pair side
    * (r14, closing the r13 envelope): the historical fixed default
    * T=24 holds the near-dup design point ([[PairsDesignCosine]] at
    * [[PairsTargetRecall]]) only through B=13 ≈ 262k vectors —
    * tablesFor(0.9, 14, 0.95) = 25 > 24 (KnnSpec-pinned both sides of
    * the boundary) — so past it the registered pairs plan silently
    * under-recalled the design point. T = max(24, [[tablesFor]](0.9,
    * B, 0.95)): the 24 floor keeps every gate-scale result (and the
    * low-cosine 0.4-band recall the fixture oracles exercise)
    * byte-identical through B=13, and past the boundary the analytic
    * union bound — measured EXACT at B ∈ {6, 11, 13}, probe 20e —
    * prices the compensation. Candidate cost stays ~linear: each
    * added table is one more ~32-row-per-cell bucketing pass (the
    * autoBits invariant), and T grows slowly (25 at B=14, ~30 at
    * B=15). The DuckDB oracles derive the identical budget from the
    * shared count(*) CTE (`lshNtCte`), exactly the [[autoProbes]]
    * pattern. */
  def autoTables(bits: Int): Int =
    math.max(24, tablesFor(PairsDesignCosine, bits, PairsTargetRecall))

  /** Smallest table count whose UNION recall reaches `targetRecall` for
    * a pair at `designCosine` under B-bit signatures —
    * T = ⌈ln(1−r) / ln(1−p₁^B)⌉ with p₁ = 1 − acos(c)/π, the standard
    * sign-random-projection union bound. Probe 20e measured the
    * analytic curve EXACT against ground truth at B ∈ {6, 11, 13}
    * (e.g. pair recall at the 0.4 band: predicted 0.0716, measured
    * 0.0764 at B=13; predicted 0.8196, measured 0.8202 at B=6), so
    * this calibration is trustworthy without a per-corpus probe: size
    * `tables` for the SIMILARITY YOU MUST NOT MISS, not for the
    * threshold you merely filter at. At the near-dup design point
    * (c = 0.9) the default T=24 holds recall ≥ 0.95 through B=13
    * (~262k vectors: T(0.9, 13, 0.95) = 21 but T(0.9, 14, 0.95) = 25 —
    * both KnnSpec-pinned); past that this function says what the
    * recall target costs — and when it says hundreds of tables (low
    * design cosine at large B), the engine's answer is the trained
    * SemDeDup / incremental-index routes, not more LSH tables. */
  def tablesFor(designCosine: Double, bits: Int,
      targetRecall: Double): Int = {
    require(designCosine > -1.0 && designCosine <= 1.0,
      s"designCosine must be in (-1, 1]: $designCosine")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1): $targetRecall")
    require(bits > 0 && bits <= 63, s"bits must be in (0, 63]: $bits")
    val p1 = 1.0 - math.acos(designCosine) / math.Pi
    val pTable = math.pow(p1, bits)
    require(pTable > 0.0,
      s"zero per-table collision probability at cosine=$designCosine, bits=$bits")
    val t = math.ceil(math.log1p(-targetRecall) / math.log1p(-pTable))
    require(t <= Int.MaxValue,
      s"no practical table count reaches recall $targetRecall at " +
        s"cosine=$designCosine, bits=$bits (T would be $t)")
    math.max(1, t.toInt)
  }

  /** Deterministic random-hyperplane table for cosine LSH: `tables`×`bits`
    * planes, each a `dims`-component weight array with components uniform
    * in [-1, 1) derived from md5("lsh:t:p:d") — a pure function of the
    * (table, plane, dimension) coordinates, so any engine reproduces the
    * planes exactly and re-runs never shift buckets (no RNG state to
    * persist). Sign-random-projection only needs symmetric weights, not
    * gaussian ones, for the collision-probability guarantee 1 - θ/π.
    * One row per plane, computed on the driver from
    * [[graft.functions.expressions.LshSignature.planes]] — the same
    * matrix the signing kernel reads — so the frame starts no job. */
  def lshPlanes(spark: SparkSession, tables: Int, bits: Int,
      dims: Int): DataFrame = {
    val w = LshSignature.planes(tables, bits, dims)
    val rows = for (t <- 0 until tables; p <- 0 until bits) yield {
      val off = (t * bits + p) * dims
      Row(t, p, w.slice(off, off + dims).toSeq)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("t", IntegerType, nullable = false),
      StructField("p", IntegerType, nullable = false),
      StructField("w", ArrayType(DoubleType, containsNull = false),
        nullable = false))))
  }

  /** The [[graft.functions.expressions.LshSignature]] kernel over vector
    * column `v`: `tables` B-bit buckets, each followed by its `probes`
    * margin-ranked Hamming-1 neighbours. */
  private def lshSignature(v: Column, tables: Int, bits: Int, dims: Int,
      probes: Int = 0): Column =
    GraftSqlShim.column(LshSignature(GraftSqlShim.expression(v), tables,
      bits, dims, probes))

  /** Public form of the LSH bucketing pass: (vid, v, t, bucket) for
    * every vector × hash table, bucket = the B-bit sign signature of the
    * vector against table t's hyperplanes — the reusable leg of
    * near-dup pair generation ([[graft.dedup.Dedup.embeddingLshPairs]])
    * and the incremental embedding dedup. Each vector is signed once,
    * by the native kernel; the corpus is never shuffled, and the pass
    * is identical for batch and streaming input (no corpus-dependent
    * state, unlike IVF centroids). */
  def lshBucketTable(corpus: DataFrame, idCol: String, vecCol: String,
      tables: Int, bits: Int, dims: Int): DataFrame =
    corpus.select(col(idCol).as("vid"), col(vecCol).as("v"),
      posexplode(lshSignature(col(vecCol), tables, bits, dims))
        .as(Seq("t", "bucket")))

  /** LSH-bucketed approximate top-k cosine neighbors. NOTE the default
    * `bits = 0` makes this call EAGER — it runs a `corpus.count()`
    * action at plan-construction time to resolve the adaptive signature
    * width (and `probes` validation then depends on corpus size); when
    * one corpus is queried repeatedly, resolve the width ONCE with
    * [[autoBits]] and pass `bits` explicitly (the knn_recall_at_k gate's
    * pattern). Candidates are corpus vectors sharing ANY of `tables`
    * B-bit sign-signature buckets with the query (collision prob per
    * table = (1 - θ/π)^B), verified with the exact cosine and ranked per
    * query. Returns up to k rows per
    * query — fewer when the buckets yield fewer candidates, the standard
    * LSH recall trade (raise `tables` / lower `bits` to widen).
    * PRECONDITION: corpus ids are unique (a repeated corpus id is
    * scored once per row); a repeated query id is searched once, with
    * its first vector.
    *
    * Scale: the query side's probe keys are signed and folded into ONE
    * broadcast row ([[probeRow]]) — per table, bucket → the queries
    * probing it, plus the query vectors.
    * Each corpus row is then signed once by the native
    * [[graft.functions.expressions.LshSignature]] kernel, looks its T
    * buckets up in that row, and emits only the distinct queries it
    * collides with, which are scored in place; the only shuffle is the
    * per-query top-k on candidate rows — cost ∝ candidates, never
    * |Q|×|N|, and no vector is copied per table. The default
    * `bits = 0` AUTO-SIZES B = max(6, ⌈log₂(n/32)⌉) exactly like
    * [[graft.dedup.Dedup.embeddingLshPairs]] (r12): a FIXED B holds
    * 2^B buckets per table at every corpus size, so per-query candidate
    * volume grows ∝ N/2^B per table and search degrades linearly toward
    * brute force — auto mode keeps expected cell population ~32 and
    * per-query cost ~flat (the standard signature-length-∝-log n
    * prescription). Per-table recall for a neighbor at angle θ is
    * (1-θ/π)^B, so a larger corpus's higher B trades per-table recall —
    * compensate with `probes = -1` (the [[autoProbes]] width-scaled
    * budget — probe 20e's measured best lift at no wall cost) or size
    * `tables` with [[tablesFor]] on recall-critical corpora, or pin
    * `bits` explicitly. At the 2k-vector fixture auto resolves
    * to B=6, where T=24/B=6 recovers 81% of >=0.4-cosine pairs while
    * generating 33% of all pairs as candidates; real clustered
    * embedding corpora sit at much higher cosine and prune far harder.
    *
    * `probes` > 0 turns on margin-ranked MULTI-PROBE on the query side
    * (Lv et al. 2007, VLDB): each query additionally visits its `probes`
    * least-confident Hamming-1 neighbor buckets per table — the bits
    * whose hyperplane margin |v·w| is smallest, ties to the lower plane,
    * so any engine replays the probe sequence — lifting
    * recall at ~(probes+1)× candidate cost WITHOUT growing the corpus
    * index — the knob to turn before adding tables. The DEFAULT is
    * `probes = -1` (r14, was 0): the budget scales WITH the resolved
    * width ([[autoProbes]], r13) — the compensation probe 20e measured
    * as the best recall/cost lift at the large-B operating points the
    * adaptive width produces (recall@10 0.11 → 0.50 at B=13 at ~no
    * wall cost). A caller reaching for "the LSH search" now gets the
    * production geometry; pass `probes = 0` explicitly for the
    * uncompensated single-probe contrast (the `knn_lsh_topk` gate's
    * deliberate baseline row). */
  def lshCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dims: Int, tables: Int = 24, bits: Int = 0,
      probes: Int = -1): DataFrame = {
    val b = if (bits > 0) bits else autoBits(corpus.count())
    val p = if (probes == -1) autoProbes(b) else probes
    require(p >= 0 && p <= b,
      s"probes must be in [0, bits=$b] or -1 (auto): $probes")
    val probed = probeRow(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        lshSignature(col(vecCol), tables, b, dims, p).as("keys")),
      tables, p)
    val hits = GraftSqlShim.column(LshCollisions(
      GraftSqlShim.expression(col("__sig")),
      GraftSqlShim.expression(col("__probe"))))
    val cand = corpus
      .select(col(idCol).as("vid"), col(vecCol).as("v"),
        lshSignature(col(vecCol), tables, b, dims).as("__sig"))
      .crossJoin(broadcast(probed))
      .select(col("vid"), col("v"), col("__qs"), explode(hits).as("__qi"))
      .select(col("vid"), col("v"), col("__qs")(col("__qi")).as("__q"))
      .filter(col("__q.query_id") =!= col("vid"))
      .select(col("__q.query_id").as("query_id"), col("vid"),
        VectorFunctions.cosine(col("__q.qv"), col("v")).as("cosine"))
    topPerQuery(cand, "cosine", "vid", k)
      .select(col("query_id"), col("vid").as("neighbor_id"),
        col("cosine"), col("rk"))
  }

  /** The query side of [[lshCosine]] folded into ONE row:
    * `__probe`, per table, bucket → indices into `__qs`, the
    * (query_id, qv) of every query. `q` is (query_id, qv, keys) with
    * [[lshSignature]]'s `1 + probes` keys per table. The fold is a
    * single-partition map, not an aggregate: no shuffle, and the
    * broadcast that reads it is the query side's only job. Null ids
    * never match; a repeated id keeps its first vector. */
  private def probeRow(q: DataFrame, tables: Int, probes: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("__probe", ArrayType(MapType(LongType,
        ArrayType(IntegerType, containsNull = false),
        valueContainsNull = false), containsNull = false)),
      StructField("__qs", ArrayType(StructType(q.schema.fields.take(2)),
        containsNull = false))))
    q.coalesce(1).mapPartitions { rows: Iterator[Row] =>
      val queries = mutable.LinkedHashMap.empty[Any, (Int, Row)]
      val probe = Array.fill(tables)(
        mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Int]])
      rows.filterNot(_.isNullAt(0)).foreach { r =>
        val i = queries.getOrElseUpdate(r.get(0),
          (queries.size, Row(r.get(0), r.get(1))))._1
        r.getSeq[Long](2).zipWithIndex.foreach { case (bucket, j) =>
          probe(j / (1 + probes)).getOrElseUpdate(bucket,
            mutable.ArrayBuffer.empty[Int]) += i
        }
      }
      Iterator.single(Row(
        probe.toSeq.map(_.map { case (bk, is) => bk -> is.toSeq }.toMap),
        queries.values.map(_._2).toSeq))
    }(Encoders.row(schema)).toDF()
  }

  /** Product-quantization codebooks as ONE broadcastable array row:
    * the vector space splits into `m` contiguous subspaces of dims/m
    * components; each subspace's codebook is the sub-vectors of the `k`
    * smallest-id corpus vectors (the same deterministic stand-in for
    * offline per-subspace k-means that [[ivfAssign]] uses, so any engine
    * reproduces the books exactly). The flat array stores subspace j's
    * p-th centroid (p = 1..k, ordered by source id) at index j*k + p —
    * codes address centroids by RANK, never by raw id, so lookups are
    * pure arithmetic. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dims: Int): DataFrame = {
    val sub = dims / m
    require(m * sub == dims, s"m=$m must divide dims=$dims")
    // The flat books array is addressed with a FIXED stride of k
    // (index j*k + p in pqTopK): fewer than k corpus vectors would
    // silently mis-stride every subspace after the first, so fail
    // loudly. The count scans ≤ k rows (limit pushes down).
    val have = corpus.select(col(idCol)).limit(k).count()
    require(have == k,
      s"pqCodebooks needs >= $k corpus vectors for k=$k, found $have")
    booksRow(corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cid"), VectorFunctions.toDouble(col(vecCol)).as("v"))
      .select(col("cid"), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("v"))
      .select(col("j"), col("cid"),
        slice(col("v"), col("j") * sub + 1, lit(sub)).as("centv")))
  }

  /** The one-row `books` array of (j, cid, centv) sub-centroid rows:
    * subspace j's centroids in `cid` order, so subspace j's p-th
    * centroid lands at index j*k + p. */
  private def booksRow(subBooks: DataFrame): DataFrame =
    subBooks.groupBy()
      .agg(array_sort(collect_list(struct(col("j"), col("cid"), col("centv"))))
        .as("__sorted"))
      .select(transform(col("__sorted"), e => e.getField("centv"))
        .as("books"))

  /** PQ codebooks TRAINED per subspace — the configuration FAISS-IVFPQ
    * actually ships (each subspace's k sub-centroids from Lloyd's
    * k-means over that subspace's sub-vectors), vs [[pqCodebooks]]'s
    * deterministic smallest-id stand-ins. Same rank-addressed one-row
    * flat-array format (subspace j's p-th centroid at index j*k + p,
    * p ordered by the trained centroid's deterministic init id), so
    * [[pqTopK]]/[[ivfPqWith]] consume either interchangeably.
    *
    * Scale: training is an OFFLINE step whose corpus cost is ONE count
    * plus ONE sampling scan (r14 review — the sample membership is a
    * pure hash of the id, identical for every subspace, so drawing the
    * full-width vectors once and slicing per subspace replaces the
    * 2m corpus passes that m independent [[kmeans]] samplers would
    * pay); the m Lloyd's runs then iterate over the pinned
    * ~`trainPerCentroid`·k-row sample only. Output is one tiny
    * broadcastable row. Lloyd's can DROP a cluster that captures no
    * sample points, which would silently mis-stride the fixed-k flat
    * array every subspace after it: raises with the subspace named
    * instead (retrain with smaller k or fall back to [[pqCodebooks]]). */
  def pqCodebooksTrained(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dims: Int, iterations: Int = 3,
      trainPerCentroid: Int = 256): DataFrame = {
    val sub = dims / m
    require(m * sub == dims, s"m=$m must divide dims=$dims")
    val all = corpus.select(col(idCol).as("vid"),
      VectorFunctions.toDouble(col(vecCol)).as("v"))
    // One shared full-width sample (kmeans's); the per-subspace kmeans
    // calls below run with sampling DISABLED so they never re-scan.
    val pinned = pinnedTrainSample(all, trainPerCentroid, k)
    booksRow((0 until m).map { j =>
      val subCorpus = pinned.select(col("vid"),
        slice(col("v"), j * sub + 1, sub).as("v"))
      val cents = kmeans(subCorpus, "vid", "v", k, iterations,
        trainPerCentroid = 0)
      val have = cents.count()
      require(have == k,
        s"pqCodebooksTrained: subspace $j trained $have centroids, " +
          s"need exactly $k (an empty cluster would mis-stride the " +
          "rank-addressed books array) — lower k or use pqCodebooks")
      cents.select(lit(j).as("j"), col("centroid_id").as("cid"),
        col("centv"))
    }.reduce(_ unionAll _))
  }

  /** PQ top-k by asymmetric distance: corpus vectors are stored as m
    * one-byte-ish codes (the rank of the nearest sub-centroid per
    * subspace, L2, ties to the smaller rank); queries stay exact and
    * score against code RECONSTRUCTIONS — score(q, x) = Σ_j q_j ·
    * books[j][code_j(x)], the standard ADC lookup expressed as
    * sequential sub-dots so any engine reproduces it bit-for-bit.
    *
    * Scale shape: encoding is one unshuffled pass (books broadcast,
    * m×k 8-dim distances per vector); at rest a vector is m small ints —
    * 16x smaller than the float vector at m=16/dims=64 — which is the
    * point: the 100 TB corpus scan reads codes, never raw vectors. The
    * only shuffle is the per-query top-k window, cost ∝ |Q|×|N| scored
    * pairs like [[bruteForce]] (bucket with [[ivfWith]]/[[lshCosine]] to
    * cut candidates; PQ is the storage/bandwidth leg, not the pruning
    * leg). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 16, codebook: Int = 16,
      dims: Int = 64): DataFrame = {
    val sub = dims / m
    require(m * sub == dims, s"m=$m must divide dims=$dims")
    // One-row codebook, consumed by the coded projection AND the query
    // scorer: pin so the codebook build runs once.
    val books = pqCodebooks(corpus, idCol, vecCol, m, codebook, dims)
      .localCheckpoint()
    val coded = corpus.crossJoin(broadcast(books))
      .select(col(idCol).as("vid"),
        pqEncode(vecCol, m, codebook, sub).as("codes"))
    val q = queries
      .select(col(idCol).as("query_id"),
        VectorFunctions.toDouble(col(vecCol)).as("qv"))
    val scored = coded.join(broadcast(q), col("query_id") =!= col("vid"))
      .crossJoin(broadcast(books))
      .withColumn("score", pqScore(m, codebook, sub))
    topPerQuery(scored, "score", "vid", k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("score"),
        col("rk"))
  }

  /** The PQ code of vector column `vecCol` against the one-row `books` column: per
    * subspace j, the rank p (1..codebook) of the nearest sub-centroid,
    * ties to the smaller rank. Argmin metric: |b|² - 2a·b, the L2
    * expansion with the per-(vector, subspace) constant |a|² dropped — a
    * uniform shift that preserves the ordering AND the ties, so the
    * chosen code is the true L2 argmin. Two native-dot kernels per probe,
    * no per-probe difference arrays (a zip_with/aggregate form measured
    * 4x slower: HOF lambdas evaluate per-element expression trees). The
    * oracle replays this exact expression, so left-to-right rounding
    * matches bit-for-bit. Sub-slices are shared by nesting transforms:
    * the inner transform materializes each vector's m sub-vectors ONCE
    * per row; the outer (element, index) lambda then probes all k
    * centroids per subspace. */
  private def pqEncode(vecCol: String, m: Int, codebook: Int,
      sub: Int): Column = {
    def score2(a: Column, b: Column): Column =
      VectorFunctions.dot(b, b) - lit(2.0) * VectorFunctions.dot(a, b)
    transform(
      transform(sequence(lit(0), lit(m - 1)), j =>
        slice(VectorFunctions.toDouble(col(vecCol)), j * sub + 1,
          lit(sub))),
      (sv, j) => array_min(transform(sequence(lit(1), lit(codebook)),
        p => struct(
          score2(sv, element_at(col("books"), j * codebook + p))
            .as("d2"),
          p.as("p")))).getField("p"))
  }

  /** The ADC score of exact query `qv` against a vector's `codes`:
    * Σ_j qv_j · books[j][code_j], the ordered sum of sub-dots written as
    * a dot against ones, so both the inner q_j·centv and the outer fold
    * run left-to-right and any engine reproduces it bit-for-bit. */
  private def pqScore(m: Int, codebook: Int, sub: Int): Column = {
    val ones = array((0 until m).map(_ => lit(1.0)): _*)
    VectorFunctions.dot(
      transform(sequence(lit(0), lit(m - 1)), j =>
        VectorFunctions.dot(slice(col("qv"), j * sub + 1, lit(sub)),
          element_at(col("books"),
            j * codebook + element_at(col("codes"), j + 1)))),
      ones)
  }

  /** IVF+PQ top-k — the standard billion-vector ANN architecture (FAISS
    * IVFPQ): IVF buckets prune WHICH vectors are scored (only `nprobe`
    * buckets per query), PQ codes prune WHAT is read to score them
    * (m rank-addressed codes, 16x smaller than the float vector at
    * m=16/dims=64). Composition of [[ivfAssign]]'s shuffle-free
    * broadcast bucketing with [[pqTopK]]'s asymmetric-distance scoring:
    * ONE corpus pass computes (bucket, codes) against a broadcast of
    * centroids + codebooks and DROPS the raw vector; candidates are the
    * probed buckets' codes only. At 100 TB this is the plan you want —
    * the corpus is scanned once, stored small, shuffled never (the
    * probe join broadcasts the query side; the only shuffle is the
    * per-query top-k).
    *
    * Same deterministic stand-ins as the parents (centroids and
    * codebooks from the smallest-id vectors) so every engine replays
    * bucket and code choices exactly; scoring is the ADC
    * sequential-dot form of [[pqTopK]], bit-replayable. */
  def ivfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Int, nprobe: Int,
      m: Int = 16, codebook: Int = 16, dims: Int = 64,
      refine: Int = 0): DataFrame =
    ivfPqWith(corpus, queries, idCol, vecCol, k,
      smallestIdCentroids(corpus, idCol, vecCol, centroids),
      nprobe, m, codebook, dims, refine = refine)

  /** [[ivfPq]] against caller-provided centroids (e.g. [[kmeans]]-
    * trained — the configuration FAISS actually ships) and optionally
    * caller-provided codebooks ([[pqCodebooksTrained]]); `ivfPq`'s
    * deterministic smallest-id stand-ins are the defaults, so
    * `ivfPqWith(ivfPq's own cents)` ≡ `ivfPq` (KnnSpec-pinned). Same
    * one-corpus-pass (bucket, codes) plan, same broadcast probe join,
    * same ADC scoring — only the offline training artifacts change.
    *
    * `refine > 0` adds the EXACT RE-RANK leg (FAISS IndexRefineFlat —
    * r14, probe 23b): ADC scores only SELECT the top-`refine`
    * candidates per query; those candidates' RAW vectors are then
    * fetched and re-ranked by exact cosine, output column `cosine`.
    * Probe 23b measured why this leg is not optional at high
    * within-cluster similarity: 4-bit-per-subspace codes score recall@10
    * at 0.03–0.13 where the same pruning on exact vectors reads 0.40–1.0
    * — ADC preserves CANDIDACY, not rank, among near-identical
    * neighbors. Cost shape of the fetch: in THIS plan it is a
    * SECOND scan of the raw-vector table, filtered by a broadcast of
    * the |Q|·refine candidate ids — never a shuffle, but parquet still
    * reads the vector column once more end to end. On the 100 TB store
    * design (codes at rest in the scan path, raw vectors in an
    * id-keyed store) the same broadcast-semi shape becomes |Q|·refine
    * point lookups; what the DataFrame plan guarantees today is only
    * "no shuffle, bounded re-rank rows". With `refine ≥` the probed
    * candidate count this degenerates to [[ivfWith]] exactly
    * (KnnSpec-pinned law). */
  def ivfPqWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: DataFrame, nprobe: Int,
      m: Int = 16, codebook: Int = 16, dims: Int = 64,
      booksOpt: Option[DataFrame] = None, refine: Int = 0): DataFrame = {
    val sub = dims / m
    require(m * sub == dims, s"m=$m must divide dims=$dims")
    // Pin both tiny training artifacts: each feeds two+ plan branches,
    // and an unpinned trained input would re-run its whole k-means
    // chain per branch (the ivfWith rationale).
    val cents0 = cents.localCheckpoint()
    val books = booksOpt
      .getOrElse(pqCodebooks(corpus, idCol, vecCol, m, codebook, dims))
      .localCheckpoint()
    // Geometry guard on caller-provided books (r14 review): the ADC
    // scorer addresses the flat array at j*codebook + code, so books
    // built for a different (m, codebook) mis-stride SILENTLY —
    // out-of-range element_at yields null, nulls swallow every score,
    // and the top-k degrades to an arbitrary ranking with no error.
    // Both builders fail loudly at build time; consume-side must too.
    // One head() on a pinned one-row frame — negligible.
    val nBooks = books.select(size(col("books"))).head.getInt(0)
    require(nBooks == m * codebook,
      s"books array has $nBooks sub-centroids, need m*codebook = " +
        s"${m * codebook} (m=$m, codebook=$codebook) — books built for " +
        "a different PQ geometry")
    // One corpus pass: bucket assignment + PQ encoding, raw vector
    // dropped at the end of the projection — the at-rest representation
    // is (vid, bucket, m codes).
    val coded = assignWith(corpus, idCol, vecCol, cents0)
      .crossJoin(broadcast(books))
      .select(col("vid"), col("bucket"),
        pqEncode("v", m, codebook, sub).as("codes"))
    val probed = probedBuckets(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qraw"), VectorFunctions.toDouble(col(vecCol)).as("qv")),
      "qraw", cents0, nprobe)
    val scored = coded.join(broadcast(probed), Seq("bucket"))
      .filter(col("query_id") =!= col("vid"))
      .crossJoin(broadcast(books))
      .withColumn("score", pqScore(m, codebook, sub))
    if (refine <= 0)
      topPerQuery(scored, "score", "vid", k)
        .select(col("query_id"), col("vid").as("neighbor_id"),
          col("score"), col("rk"))
    else {
      // Exact re-rank: ADC picks the candidates, raw vectors score
      // them. The candidate list (|Q|·refine ids) rides a broadcast to
      // both fetches, so neither the corpus nor the query table is
      // shuffled — the standard refine leg's point-lookup shape.
      val cand = topPerQuery(scored, "score", "vid", refine)
        .select(col("query_id"), col("vid"))
      val fetched = corpus
        .select(col(idCol).as("vid"), col(vecCol).as("__cv"))
        .join(broadcast(cand), Seq("vid"))
      val qraw = queries
        .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      val rescored = fetched.join(broadcast(qraw), Seq("query_id"))
        .withColumn("cosine", VectorFunctions.cosine(col("__qv"), col("__cv")))
      topPerQuery(rescored, "cosine", "vid", k)
        .select(col("query_id"), col("vid").as("neighbor_id"),
          col("cosine"), col("rk"))
    }
  }

  /** Each query's `nprobe` buckets: the centroids nearest by cosine to
    * its `raw` vector column, as (query_id, qv, bucket). */
  private def probedBuckets(q: DataFrame, raw: String, cents: DataFrame,
      nprobe: Int): DataFrame =
    topPerQuery(q.crossJoin(broadcast(cents))
        .withColumn("sim", VectorFunctions.cosine(col(raw), col("centv"))),
      "sim", "centroid_id", nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id").as("bucket"))

  /** IVF top-k with the deterministic smallest-id centroids — the form
    * `knn_ivf_topk` and its DuckDB oracle replay. Trained centroids go
    * through [[ivfWith]]. */
  def ivf(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Int, nprobe: Int): DataFrame =
    ivfWith(corpus, queries, idCol, vecCol, k,
      smallestIdCentroids(corpus, idCol, vecCol, centroids), nprobe)

  /** IVF top-k against a provided (centroid_id, centv) table: search only
    * the `nprobe` buckets nearest to each query. Assignment is the
    * shuffle-free [[assignBuckets]] projection; the only shuffles left
    * are the final per-query top-k (|Q| partitions) and none for the
    * corpus itself. */
  def ivfWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: DataFrame, nprobe: Int): DataFrame = {
    // Pin the (tiny, <=centroids-row) table: it feeds BOTH the
    // assignment fold and the probe broadcast, and an unpinned plan
    // re-executes whatever produced it per branch — for kmeans output that
    // is the ENTIRE k-means iteration chain, corpus scans included.
    val centsPinned = cents.localCheckpoint()
    val assigned = assignWith(corpus, idCol, vecCol, centsPinned)
    val probed = probedBuckets(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "qv",
      centsPinned, nprobe)
    val scored = assigned.join(broadcast(probed), Seq("bucket"))
      .filter(col("query_id") =!= col("vid"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("v")))
    topPerQuery(scored, "cosine", "vid", k)
      .select(col("query_id"), col("vid").as("neighbor_id"),
        col("cosine"), col("rk"))
  }
}
