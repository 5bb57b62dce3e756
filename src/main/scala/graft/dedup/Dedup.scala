package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication operators for pretraining-data pipelines (SURVEY §2.7):
  * exact (fingerprint groupBy), exact pairwise n-gram Jaccard, MinHash+LSH
  * banding, and SimHash. All shuffle-conscious:
  *
  *  - exact dedup: one shuffle on the fingerprint — the 100 TB baseline.
  *  - Jaccard pairs: co-occurrence join on shingles (never a cross join);
  *    cost ∝ Σ per-shingle df², so hot shingles are the skew risk — cap
  *    them with `maxShingleDf`.
  *  - MinHash/LSH: signature is one aggregate-free projection; candidate
  *    generation is a groupBy on (band, bandHash) buckets; only candidates
  *    are verified. This is the scale path: cost ∝ candidates, not pairs.
  */
object Dedup {

  /** Exact duplicate groups: canonical (minimum) id + member count per
    * normalized-text fingerprint. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_members"))

  /** Keep one row per exact-duplicate group (the minimum-id row).
    * Null-text rows all pass through: they have no fingerprint, so they
    * are not duplicates of each other (the module's null policy, see
    * [[incrementalDedup]]). Implemented by giving each null-text row its
    * OWN group key ("null:" + id — a ':' never occurs in an md5 hex
    * fingerprint, so synthetic keys cannot collide with real ones); the
    * filter stays the pure `row_number = 1` idiom, which is what lets
    * [[graft.plans.WindowTopKRewrite]] route this through the native
    * bounded-heap operator. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val key = coalesce(TextFunctions.fingerprint(col(textCol)),
      concat(lit("null:"), col(idCol).cast("string")))
    val w = Window.partitionBy(key).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental ingestion dedup: dedupe a NEW batch internally, then
    * drop rows whose fingerprint already exists in the corpus — the daily
    * form of exact dedup, O(batch) instead of reprocessing the corpus.
    * `corpusFingerprints` is the persisted one-column fingerprint index
    * ([[fingerprintIndex]]); the anti join shuffles only the batch when
    * the index is larger, and the index is exactly what a warehouse
    * maintains incrementally (union the survivors' fingerprints back).
    *
    * Null-text rows have NO fingerprint, so they are defined to pass
    * through untouched: they neither dedupe against each other (the
    * window would otherwise lump every null into one group and keep one)
    * nor against the corpus (the index stores only real fingerprints —
    * a SQL `fp NOT IN (...)` against an index containing a NULL would
    * silently drop every batch row). */
  def incrementalDedup(batch: DataFrame, corpusFingerprints: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    // Fingerprint once; both the self-dedup window and the anti join key
    // on the same materialized column (recomputing md5 over full document
    // text per stage would double the hot-path CPU).
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    batch.withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 || col("__fp").isNull)
      .drop("__rn")
      // left_anti on equality never matches a null key, so null-fp rows
      // survive here by construction.
      .join(corpusFingerprints.select(col("fp").as("__fp")),
        Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** The persisted fingerprint index of a corpus (one column `fp`,
    * never null — null-text rows have no fingerprint to index). */
  def fingerprintIndex(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull).distinct()

  /** (id, band, bh) banded MinHash buckets of every shingled doc — the
    * shared candidate-key space of [[minhashPairs]], [[minhashBandIndex]]
    * and [[incrementalMinhashDedup]], banded by [[bandKeys]] as in
    * [[minhashPairs]]. Docs with no shingles (null text, or fewer than
    * `shingleN` tokens) produce no rows. */
  private def bandedBuckets(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int,
      family: MinHashFamily): DataFrame = {
    val k = bands * rowsPerBand
    val sets = shingleTable(df, textCol, idCol, shingleN)
      .select(col("id"), family.prepare(col("shingle")).as("base"))
      .groupBy("id").agg(collect_list(col("base")).as("bases"))
    bandKeys(sets
      .select(col("id"), minhashSignature(col("bases"), k, family.slot).as("sig")),
      bands, rowsPerBand)
  }

  /** (id, band, bh) rows of an (id, sig) table: band b's key `bh` is
    * the r-slot slice of `sig` joined AS the key (array equality). The
    * one band-key expression of the incremental and all-pairs paths, so
    * they agree bucket for bucket. */
  private def bandKeys(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
              .as("bh")))).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))

  /** The persisted LSH band-bucket index of a corpus — the NEAR-dup
    * analogue of [[fingerprintIndex]]: distinct (band, bh) bucket keys,
    * one table a warehouse maintains incrementally by unioning each
    * ingested batch's surviving buckets back in. */
  def minhashBandIndex(corpus: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      family: MinHashFamily = xxFamily): DataFrame =
    bandedBuckets(corpus, textCol, idCol, shingleN, bands, rowsPerBand,
      family).select(col("band"), col("bh")).distinct()

  /** Incremental ingestion NEAR-dup dedup: the [[incrementalDedup]]
    * shape upgraded from exact fingerprints to MinHash+LSH candidates —
    * O(batch) per day, the corpus is never rescanned. A batch row is
    * DROPPED iff (a) any of its bands lands in a bucket the persisted
    * corpus index already holds, or (b) some band bucket it shares with
    * a SMALLER-id batch row (min-id-wins, the same tie-break every dedup
    * in this module uses). Rule (b) is deliberately one-hop — a doc
    * whose only bucket partner was itself dropped still drops, matching
    * the index semantics after that partner would have been ingested —
    * NOT the transitive-cluster rule ([[clusterPairs]] exists for that).
    *
    * LSH candidacy is probabilistic by design: P(bucket hit) ≈
    * 1-(1-J^r)^b, so with the b=8/r=4 defaults a true near-dup at J=0.9
    * is caught with p≈0.9995 while J≈0.1 strangers collide at ~8·10⁻⁴ —
    * the standard ingest-time trade (candidates are dropped WITHOUT the
    * exact-Jaccard verify pass, because the "corpus side" of a would-be
    * verify is exactly what an O(batch) path cannot afford to rescan;
    * keep the index bucket keys and nothing else).
    *
    * Docs with no shingles (null text, or shorter than `shingleN`
    * tokens) pass through untouched — nothing to hash, same policy as
    * [[incrementalDedup]]'s null-text rule.
    *
    * Scale shape: one shingle-aggregate shuffle + one (band, bh) window
    * shuffle, both O(batch); the index probe is a semi join against the
    * persisted bucket table (pre-bucketed by key in a real warehouse, so
    * the batch side streams against it without moving the index). */
  def incrementalMinhashDedup(batch: DataFrame, bandIndex: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      family: MinHashFamily = xxFamily): DataFrame =
    incrementalMinhashDedupWithIndex(batch, bandIndex, textCol, idCol,
      shingleN, bands, rowsPerBand, family)._1

  /** [[incrementalMinhashDedup]] returning ALSO the survivors' distinct
    * (band, bh) bucket keys — derived from the SAME pinned bucket table
    * the dedup used, so an ingest caller can fold survivors into the
    * persisted index WITHOUT a second shingle+signature pass over the
    * text (that pass is the dominant per-batch cost; recomputing it via
    * [[minhashBandIndex]] on the survivors roughly doubled
    * `stream_neardup_batches`). Identical keys to
    * `minhashBandIndex(kept)` by construction: the bucket table is a
    * pure function of each row. */
  def incrementalMinhashDedupWithIndex(batch: DataFrame,
      bandIndex: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      family: MinHashFamily = xxFamily): (DataFrame, DataFrame) =
    bucketDedup(batch, bandedBuckets(batch, textCol, idCol, shingleN, bands,
      rowsPerBand, family), bandIndex, idCol, Seq("band", "bh"))

  /** The one-hop min-id bucket rule of both incremental near-dup paths,
    * keyed by (band, bh) or (t, bucket): a batch row is dropped iff one of
    * its `buckets` rows (id + `key`) hits a key `index` holds or shares a
    * key with a smaller-id batch row. Returns (survivors, their distinct
    * keys). Four plan branches read the buckets, so they are pinned and
    * the signature pipeline runs over the batch once — a batch-sized pin
    * at any corpus size (the diamond semanticDedupAssigned pins). Both
    * outputs read `dropped`, and an ingest writes them as two queries,
    * which share no exchange: it is pinned too (at most the batch's ids),
    * so the index — O(corpus) at scale — is probed once per batch, not
    * once per output. */
  private def bucketDedup(batch: DataFrame, buckets: DataFrame,
      index: DataFrame, idCol: String,
      key: Seq[String]): (DataFrame, DataFrame) = {
    val banded = buckets.localCheckpoint()
    val idxHits = banded
      .join(index.select(key.map(col): _*), key, "left_semi")
      .select(col("id"))
    val internal = banded
      .withColumn("__minid",
        min(col("id")).over(Window.partitionBy(key.map(col): _*)))
      .filter(col("id") > col("__minid"))
      .select(col("id"))
    val dropped = idxHits.union(internal).distinct().localCheckpoint()
    val kept = batch.join(dropped.withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
    val keptKeys = banded.join(dropped, Seq("id"), "left_anti")
      .select(key.map(col): _*).distinct()
    (kept, keptKeys)
  }

  /** (id, shingle) exploded distinct-shingle table — the join key space
    * for exact Jaccard. `maxShingleDf` drops shingles appearing in more
    * than that many docs (stopword-gram skew guard; None keeps all). */
  def shingleTable(df: DataFrame, textCol: String, idCol: String, n: Int,
      maxShingleDf: Option[Int] = None, spread: Boolean = true): DataFrame = {
    // Unsplittable-input spread (r14, guide §2.5): tokenize + shingle
    // explosion (and every consumer's per-shingle digest, which
    // CollapseProject keeps below the first aggregate's partial stage)
    // is the dominant map-side CPU of all shingle-based operators, and
    // on a one-row-group fixture scan it ran on a single core. Only
    // (id, text) rows cross the narrow exchange; no-op at scale where
    // the scan splits. `spread = false` opts out for consumers whose
    // downstream work is too light to pay for the exchange
    // (contaminationRatio — no per-shingle digest, measured 1.1–1.3×
    // WORSE spread in two independent r14 runs).
    val base =
      if (spread) graft.util.Spread.spreadInput(df, col(idCol)) else df
    val sh = base
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(TextFunctions.shinglesFromTokens(col("__toks"), n)).as("shingle"))
    maxShingleDf match {
      case Some(cap) =>
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        sh.join(hot, Seq("shingle"), "left_anti")
      case None => sh
    }
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold, via shingle
    * co-occurrence: only pairs sharing ≥1 shingle are ever materialized. */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double): DataFrame = {
    // The shingle table feeds FOUR plan branches (both join sides and
    // both size lookups); without pinning, the tokenize+shingle+explode
    // pipeline re-executes per branch (the plan shows 4 Generate chains;
    // AQE's exchange reuse recovers only the aggregated ones). One eager
    // localCheckpoint runs it once; the pinned RDD is released by the
    // ContextCleaner when the result DataFrame is dropped. DISK_ONLY
    // (r10, probe 16b): this pin is CORPUS-sized (every doc's exploded
    // shingles) — MEMORY_AND_DISK's deserialized blocks OOM'd the 100×
    // run at the contract heap while the candidate join's execution
    // memory spiked; a disk pin re-reads sequentially per branch and
    // never competes with the joins.
    val sh = shingleTable(df, textCol, idCol, n)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("id").as("id_a"), col("shingle"))
    val b = sh.select(col("id").as("id_b"), col("shingle"))
    val shared = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact Jaccard pairs with PREFIX FILTERING (PPJoin-style): shingles
    * get a global canonical order (ascending document frequency, then
    * value); a doc only indexes its first |d| - floor(τ·|d|) + 1 shingles
    * under that order, and any pair with J ≥ τ provably shares an indexed
    * shingle. The candidate join therefore runs over ~(1-τ) of the rows,
    * and — because rare shingles sort first — over the *smallest* join
    * groups, which is what kills the quadratic hot-shingle blowup at
    * scale. floor (not ceil) keeps the prefix a hair conservative, so
    * float error can only ADD candidates, never lose a true pair.
    * Candidates additionally pass PPJoin's POSITIONAL filter (see the
    * inline proof at the candidate join) before the verify joins ever
    * see them. Verification is the same exact intersection count as
    * [[jaccardPairs]]; results are identical (law-pinned in DedupSpec). */
  def jaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double): DataFrame = {
    // Same diamond as jaccardPairs: the shingle table feeds ~6 plan
    // branches (sizes, dfs, ranked, both verification joins, final
    // lookups) — pin it so tokenize+shingle+explode runs once. DISK_ONLY
    // for the same corpus-sized-pin reason as jaccardPairs (probe 16b).
    val sh = shingleTable(df, textCol, idCol, n)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // n_sh rides the SAME window pass as rk (unbounded frame over the
    // same (id) partitioning + (df, shingle) sort), instead of joining
    // the separately-aggregated sizes table back by id — one
    // corpus-sized exchange fewer in the index stage (r11; `sizes`
    // itself is still used below, where it joins the tiny verified set).
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    val ranked = sh.join(dfs, Seq("shingle"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_sh", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rk") <=
        col("n_sh") - floor(lit(threshold) * col("n_sh")) + 1)
      .select(col("id"), col("shingle"), col("rk"), col("n_sh"))
    // Deliberately NOT salted (r10, measured): routing this self-join
    // through saltedCandidatePairs reads WORSE on both the healthy
    // fixture (6.25 vs 4.2 s) and the non-collapsible flood (22.9 vs
    // 17.5 s at nearskew 2×) — unlike the minhash band join, the
    // shared-shingle VERIFY stage below dominates and is already
    // parallel, so the hot-prefix SMJ group is not the bottleneck and
    // the salt's extra bucket-count window only breaks the two sides'
    // exchange identity (SCALING.md probe 15 addendum).
    // POSITIONAL filter (PPJoin, r11 — SCALING.md probe 18): an emission
    // that matches shingle s at canonical ranks (rk_a, rk_b) can yield at
    // most 1 + min(n_a − rk_a, n_b − rk_b) total shared shingles IF s is
    // the pair's minimal shared shingle — and for the minimal shared
    // shingle that bound is valid because any shared shingle t ranked
    // below s would itself sit in BOTH prefixes (a doc's prefix is
    // downward-closed in the canonical order over the doc's own
    // shingles), contradicting minimality. J ≥ τ needs overlap ≥
    // τ/(1+τ)·(n_a+n_b), so an emission whose bound falls short is
    // dropped; the pair survives iff ANY of its emissions passes — safe,
    // because a true pair's minimal shared emission always does (its
    // bound ≥ the true overlap ≥ the requirement). The requirement is
    // computed MINUS 1e-6: τ/(1+τ) is not exactly representable and its
    // product can round UP past the exact rational bound (measured:
    // τ=0.8, n_a+n_b=63 → 28.000000000000004 > the exact 28, silently
    // dropping a true pair at J == τ — the r11 review find, now a
    // DedupSpec regression case). The epsilon dwarfs the product's
    // absolute float error (≤ ~4e-7 even at 10⁹ shingles/doc) while
    // admitting at most a 1e-6-wide sliver of extra candidates, which
    // the exact verify below discards — float error can then only ADD
    // candidates, never lose a true pair (the same conservative
    // direction as the prefix-length floor above). The
    // r11 cluster bisect measured the verify joins below at 71% of the
    // composed query's 100× wall with 0.18% candidate precision — this
    // filter kills the deep-prefix false candidates BEFORE the distinct
    // and the two corpus-sized verify joins, which subsumes the PPJoin
    // length filter (the bound is ≤ min(n_a, n_b) for every rk ≥ 1).
    val cand = ranked.as("a")
      .join(ranked.as("b"), Seq("shingle"))
      .filter(col("a.id") < col("b.id"))
      .filter(lit(1) +
        least(col("a.n_sh") - col("a.rk"), col("b.n_sh") - col("b.rk")) >=
        lit(threshold / (1.0 + threshold)) *
          (col("a.n_sh") + col("b.n_sh")) - lit(1e-6))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val shared = cand
      .join(sh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-dup CLUSTERS from a pair list: connected components via
    * min-label propagation WITH POINTER DOUBLING (path halving): each
    * iteration first takes the min label over neighbors, then replaces
    * every label by its label's label. Doubling halves pointer-chain
    * length each pass, so convergence takes O(log diameter) iterations
    * instead of O(diameter) — a 1000-long dup chain resolves in ~10
    * passes, not 1000. Returns (id, canonical_id). Throws if
    * `maxIterations` passes don't reach the fixpoint (returning
    * silently-wrong labels is never acceptable for a dedup survivor
    * selection). Pair graphs with at most `localEdgeLimit` edges are
    * instead solved with driver-side union-find (see inline comment) —
    * same labels, one job instead of ~20. */
  def clusterPairs(rawPairs: DataFrame, maxIterations: Int = 25,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    // Materialize the pair list once, BEFORE the both-directions union:
    // the union's two branches and the iteration below all reference it,
    // and without a persist the (possibly expensive) pair pipeline
    // behind it re-executes per reference (measured 2-4x cost).
    // Null ids cannot be clustered (min-label over null is undefined and
    // the distributed path's least/min would silently skip them); drop
    // those edges up front so both branches see the same graph.
    val pairs = rawPairs.select("id_a", "id_b")
      .where(col("id_a").isNotNull && col("id_b").isNotNull).persist()
    val nEdges = 2L * pairs.count()
    val edges = pairs.select(col("id_a").as("x"), col("id_b").as("y"))
      .union(pairs.select(col("id_b").as("x"), col("id_a").as("y")))

    // SHRINK-THEN-SOLVE: the pair graph of a near-dup pipeline is
    // proportional to the number of duplicates, not the corpus — after
    // LSH + verification it is typically orders of magnitude smaller
    // than the input (47 clusters from 5k docs on the fixture corpus).
    // When it fits comfortably on the driver (1M edges ≈ 500k pairs ≈
    // tens of MB of Rows — safe even at a 1g default driver heap),
    // α(n) union-find there beats ~5 distributed rounds of 4 shuffles
    // each by ~10×: the rounds are pure job-scheduling overhead at that
    // size. Graphs above the limit (adversarial corpora, low
    // thresholds) take the distributed pointer-doubling path below,
    // which never collects.
    if (nEdges <= localEdgeLimit) {
      val spark = pairs.sparkSession
      val idType = pairs.schema("id_a").dataType
      val edgeArr = pairs.collect() // one row per undirected pair
      pairs.unpersist()
      // Union-find over dense indexes; the minimum id (under the column
      // type's ordering) of each component becomes its root, matching
      // the min-label semantics of the distributed path exactly.
      val index = scala.collection.mutable.HashMap.empty[Any, Int]
      val values = scala.collection.mutable.ArrayBuffer.empty[Any]
      def idx(v: Any): Int = index.getOrElseUpdate(v, { values += v; values.size - 1 })
      val edgeIdx = edgeArr.map(r => (idx(r.get(0)), idx(r.get(1))))
      val parent = Array.tabulate(values.size)(identity)
      def find(a: Int): Int = {
        var root = a
        while (parent(root) != root) root = parent(root)
        var cur = a // path compression
        while (parent(cur) != cur) { val n = parent(cur); parent(cur) = root; cur = n }
        root
      }
      // Canonical id = minimum under SPARK's ordering for the column
      // type. For strings that is binary UTF-8 byte order (UTF8String),
      // NOT java.lang.String's UTF-16 code-unit order — they disagree for
      // supplementary-plane vs U+E000..U+FFFF characters, and the
      // distributed branch (least/min) and the DuckDB oracle both use
      // byte order, so the local branch must too.
      def sparkCompare(a: Any, b: Any): Int = (a, b) match {
        case (x: String, y: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
        case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
      }
      edgeIdx.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (sparkCompare(values(ra), values(rb)) < 0) parent(rb) = ra
          else parent(ra) = rb
        }
      }
      val schema = StructType(Seq(
        StructField("id", idType), StructField("canonical_id", idType)))
      val out = values.indices.map(i =>
        org.apache.spark.sql.Row(values(i), values(find(i))))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq, 1), schema)
    }
    var labels = edges.select(col("x").as("id")).distinct()
      .withColumn("label", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "y")
          .withColumnRenamed("label", "nlabel"), Seq("y"))
        .groupBy(col("x").as("id")).agg(min(col("nlabel")).as("nmin"))
      // Persisted because the doubling join below reads it twice.
      val stepped = labels.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .persist()
      // Pointer doubling: label := label(label). Labels only ever
      // decrease (label(x) <= x), so the jump is monotone and safe; it
      // turns length-d pointer chains into length-⌈d/2⌉ ones.
      //
      // localCheckpoint (not persist): the self-join references the
      // previous iteration TWICE, so without truncating lineage the
      // logical plan doubles every pass and Catalyst's constraint
      // propagation goes exponential (measured: a 10-edge chain hung the
      // optimizer for minutes by iteration ~4). Checkpointing pins the
      // iteration's OUTPUT as a LogicalRDD, keeping every plan
      // constant-size; superseded checkpoint RDDs are released by the
      // ContextCleaner as references drop.
      val updated = stepped.as("s")
        .join(stepped.select(col("id").as("label"),
          col("label").as("jump")).as("j"), Seq("label"), "left_outer")
        .select(col("id"), col("__old"),
          coalesce(col("jump"), col("label")).as("label"))
        .localCheckpoint() // eager: materializes before stepped unpersists
      // Carry the old label through so convergence detection is a filter
      // on the checkpointed result, not another self-join + shuffle.
      val changed = updated.filter(col("label") =!= col("__old"))
        .limit(1).count() > 0
      stepped.unpersist()
      labels = updated.select(col("id"), col("label"))
      converged = !changed
      i += 1
    }
    if (!converged) {
      pairs.unpersist()
      throw new IllegalStateException(
        s"clusterPairs did not converge in $maxIterations iterations — " +
          "component diameter exceeds 2^iterations; raise maxIterations")
    }
    pairs.unpersist()
    labels.select(col("id"), col("label").as("canonical_id"))
  }

  /** Drop near-duplicates: keep only each cluster's canonical (minimum
    * id) row plus all rows that appear in no pair. */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame,
      idCol: String, maxIterations: Int = 25): DataFrame = {
    val clusters = clusterPairs(pairs, maxIterations)
    val losers = clusters.filter(col("id") =!= col("canonical_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Train/test split leakage guard: near-duplicate clusters must never
    * straddle a split boundary — a test document whose near-dup sits in
    * train is memorized, not held out (the cross-split contamination the
    * decontamination literature warns about, applied to the pipeline's
    * OWN splits). Given a per-row split assignment (`idCol`, `splitCol`)
    * and a near-dup pair graph, reassigns every clustered row to the
    * split of its cluster's canonical (minimum-id) member, so each
    * cluster lands whole in exactly one split. Unclustered rows (the
    * overwhelming majority — the pair graph is duplicate-proportional)
    * keep their assignment.
    *
    * Output: (`idCol`, `splitCol`, canonical_id, final_split, moved) —
    * `moved` marks rows whose assignment changed, i.e. the leakage that
    * was repaired; a summary (`GROUP BY split, final_split`) is the
    * audit report.
    *
    * Scale shape: [[clusterPairs]] is duplicate-proportional (tiered
    * driver/distributed solver); both joins here are keyed by id /
    * canonical id — linear, one exchange each, and the canonical side is
    * small enough for AQE to broadcast in practice. Nothing touches the
    * corpus more than once. Deterministic: the canonical member is the
    * cluster minimum and the hash split is partition-invariant, so the
    * repaired assignment is a pure function of (keys, salt, pair graph).
    */
  def splitLeakageGuard(assign: DataFrame, idCol: String, splitCol: String,
      pairs: DataFrame, maxIterations: Int = 25): DataFrame = {
    val canon = clusterPairs(pairs, maxIterations)
      .withColumnRenamed("id", idCol)
    val withCanon = assign.select(col(idCol), col(splitCol))
      .join(canon, Seq(idCol), "left_outer")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col(idCol)))
    // The canonical member's own split: canonical_id always exists in
    // `assign` (it is one of the clustered ids), so an inner join loses
    // nothing — but left_outer keeps the guard total if a caller passes
    // a pair graph referencing ids outside the assignment.
    val canonSplit = assign.select(col(idCol).as("canonical_id"),
      col(splitCol).as("final_split"))
    withCanon.join(canonSplit, Seq("canonical_id"), "left_outer")
      // Totality fallback: a pair graph can reference an id absent from
      // `assign`; if such an id is a cluster minimum, canonSplit has no
      // row for it and final_split would be NULL — fall back to the
      // row's own split so every row keeps an assignment.
      .withColumn("final_split",
        coalesce(col("final_split"), col(splitCol)))
      .select(col(idCol), col(splitCol), col("canonical_id"),
        col("final_split"),
        (col(splitCol) =!= col("final_split")).as("moved"))
  }

  /** Fixed-size token chunks of a raw text column (1-based slices of the
    * space-split tokens, original case preserved) — the unit function for
    * [[unitDedup]] on unstructured text that has no paragraph breaks.
    * Empty text yields one empty chunk (split("", " ") = [""] — pinned
    * by DedupSpec); null text yields an EMPTY array (no units), which is
    * what makes null-text docs disappear from [[unitDedup]] output. */
  def tokenChunks(text: Column, chunkTokens: Int): Column =
    graft.functions.TextFunctions.chunksFromTokens(split(text, " "), chunkTokens)

  /** Paragraph/unit-level dedup (the paragraph-dedup shape of crawl
    * pipelines): split each document into units with `unitsFn` (real
    * paragraphs: `split(text, "\n\n")`; unstructured text:
    * [[tokenChunks]]), keep only the globally FIRST occurrence of each
    * unit's normalized fingerprint (ordered by (id, position) — so a
    * unit repeated within one document also dedupes to its first use),
    * and reassemble every document from its surviving units in order,
    * joined with `joiner`. Documents whose every unit was dropped
    * disappear (nothing left to emit); null-text documents have no units
    * and disappear likewise. Returns (id, text_deduped, n_units_kept).
    *
    * Scale: one explode (rows ∝ units), one window shuffle on the unit
    * fingerprint, one reassembly aggregate on the document id — never a
    * join back to the corpus, and each shuffle key is either a digest or
    * the id (no skew beyond genuinely hot duplicate units, which the
    * window handles as one partition per fingerprint). */
  def unitDedup(df: DataFrame, textCol: String, idCol: String,
      unitsFn: Column => Column, joiner: String = " "): DataFrame = {
    // Deliberately NOT input-spread (r14): measured 1.4–1.5× WORSE with
    // the guide-§2.5 repartition in two runs — the window exchange
    // right above already redistributes the exploded units, so the
    // spread only added an exchange (guide §2.3).
    val units = df.select(col(idCol).as("id"),
      posexplode(unitsFn(col(textCol))).as(Seq("pos", "unit")))
    val w = Window.partitionBy(TextFunctions.fingerprint(col("unit")))
      .orderBy(col("id"), col("pos"))
    units.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("id"))
      .agg(joinInOrder("pos", "unit", joiner).as("text_deduped"),
        count(lit(1)).as("n_units_kept"))
  }

  /** Reassemble surviving (pos, piece) rows of a document back into one
    * string, in position order — the reassembly step [[unitDedup]],
    * [[removeDuplicatedSpans]] and [[graft.ops.Cleaning.lineClean]]
    * share (an aggregate column for a groupBy(id).agg(...)). */
  private[graft] def joinInOrder(posCol: String, pieceCol: String,
      joiner: String): Column =
    array_join(
      transform(array_sort(collect_list(struct(col(posCol), col(pieceCol)))),
        e => e.getField(pieceCol)), joiner)

  /** Substring-level duplication profile (the token-granular form of
    * exact-substring training-data dedup, cf. Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): slide a `windowTokens`-token
    * window over each document and count, per document, how many of its
    * spans occur more than once ANYWHERE in the corpus (including within
    * the same document). Returns (id, n_spans, n_dup_spans); docs shorter
    * than the window carry no spans and emit no row — there is no
    * substring of the target length to test. The dup fraction
    * n_dup_spans/n_spans is the per-doc filter/repair signal; both terms
    * stay exact integers here so any engine replays them bit-for-bit.
    *
    * Scale: rows explode to ~tokens-per-doc spans; ONE shuffle on the span
    * digest for the occurrence counts, one aggregate back on the doc id.
    * Never a corpus self-join. The exchange carries (doc id, 12-byte
    * digest pair), NOT the span string: the span identity is its
    * whitespace-normalized lowercase form, hashed to xxhash64 ∥ murmur3
    * below the exchange — 96 combined bits, so a cross-span collision
    * (the only way a count can drift from the string-keyed oracle, which
    * partitions by the normalized string itself) needs ~2⁴⁸ distinct
    * spans to reach even coin-flip odds. Hot spans (boilerplate repeated
    * millions of times) are genuinely hot keys; the count-over-window is
    * a single streaming pass per digest partition, sorting 12-byte keys
    * instead of 40+-byte md5 hex strings. */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    val toks = split(col(textCol), " ")
    // Unsplittable-input spread (r14, guide §2.5): the span explosion +
    // per-span normalize/digest below the window exchange is the
    // dominant CPU of this operator (~tokens-per-doc spans each paying
    // a regex collapse + two hashes), and on a single-row-group input
    // it all ran on one core. Measured 2.5× at sf0.1
    // (dedup_span_stats 2.67 → 1.05 s); no-op at scale where the scan
    // splits by itself.
    val spans = graft.util.Spread.spreadInput(df, col(idCol))
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(when(size(toks) >= windowTokens,
          transform(sequence(lit(0), size(toks) - windowTokens),
            i => array_join(slice(toks, i + 1, lit(windowTokens)), " ")))
          .otherwise(array().cast("array<string>"))).as("span"))
    // Same normalization as TextFunctions.fingerprint (split-on-space
    // tokens re-join around empty tokens, so the \s+ collapse is
    // load-bearing), but digested with two cheap non-crypto hashes in
    // place of md5: less CPU per span and a fixed-width shuffle key.
    val norm = regexp_replace(trim(lower(col("span"))), "\\s+", " ")
    val occ = count(lit(1)).over(Window.partitionBy(xxhash64(norm), hash(norm)))
    spans.withColumn("__occ", occ)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__occ") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
  }

  /** Exact-substring REMOVAL — the repair [[duplicatedSpans]] only
    * profiles, completing Lee et al. 2022: every NON-FIRST occurrence
    * of a duplicated `windowTokens`-token span is cut from its document
    * and the remainder survives, so boilerplate repeated across the
    * corpus is kept exactly once (in its globally first document) while
    * the unique prose around it is preserved — the reason production
    * pipelines prefer substring removal over whole-document dropping.
    *
    * Semantics: a span occurrence at (id, pos) is REMOVED iff another
    * occurrence of its normalized form (lowercase, whitespace
    * collapsed — [[TextFunctions.fingerprint]]'s normalization) sorts
    * strictly earlier by (id, pos) anywhere in the corpus, including
    * within the same document. Removal marks the occurrence's
    * `windowTokens` token slots; overlapping marked spans union their
    * slots; the surviving tokens reassemble in order (the [[unitDedup]]
    * reassembly helper). Returns (id, text_cleaned, n_tokens_kept,
    * n_tokens_removed) for every non-null-text document — docs shorter
    * than the window have no spans and pass through unchanged; a doc
    * that is entirely duplicated text keeps its row with an empty
    * string (removal is a repair, not a drop — the caller decides on
    * empty survivors). Null-text docs carry no tokens and emit no row
    * ([[duplicatedSpans]]' convention).
    *
    * Scale shape: tokens and spans explode (rows ∝ corpus tokens); ONE
    * digest-keyed window finds first occurrences (same
    * xxhash64 ∥ murmur3 pair as [[duplicatedSpans]] — 96 bits below
    * the exchange, collision odds documented there); marked spans fan
    * out ×windowTokens (duplication-proportional, not corpus-
    * proportional); one (id, idx) anti-join filters tokens and one
    * id-keyed aggregate reassembles. Never a corpus self-join, never a
    * per-doc quadratic scan. */
  def removeDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    val toks = split(col(textCol), " ")
    // Same unsplittable-input spread as [[duplicatedSpans]] (r14,
    // guide §2.5): tokens AND spans explode from this base, so the
    // single-task scan bottlenecked both Generate chains.
    val base = graft.util.Spread.spreadInput(df, col(idCol))
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), toks.as("tk"))
    val tokens = base.select(col("id"),
      posexplode(col("tk")).as(Seq("pos", "tok")))
    val spans = base
      .select(col("id"), col("tk"),
        explode(when(size(col("tk")) >= windowTokens,
          sequence(lit(0), size(col("tk")) - windowTokens))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col("id"), col("pos"), regexp_replace(trim(lower(array_join(
        slice(col("tk"), col("pos") + 1, lit(windowTokens)), " "))),
        "\\s+", " ").as("__norm"))
    val w = Window.partitionBy(xxhash64(col("__norm")), hash(col("__norm")))
      .orderBy(col("id"), col("pos"))
    val removed = spans
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(windowTokens - 1)))
          .as("pos"))
      .distinct()
    tokens.join(removed, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(joinInOrder("pos", "tok", " ").as("text_cleaned"),
        count(lit(1)).as("n_tokens_kept"))
      .join(base.select(col("id"), size(col("tk")).cast("long").as("__n")),
        Seq("id"), "right_outer")
      .select(col("id"), coalesce(col("text_cleaned"), lit("")).as("text_cleaned"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        (col("__n") - coalesce(col("n_tokens_kept"), lit(0L)))
          .as("n_tokens_removed"))
  }

  /** Benchmark-contamination ratio: for every corpus document, the
    * fraction of its distinct n-gram shingles that also occur anywhere
    * in `bench` (the eval/benchmark set) — the standard n-gram-overlap
    * decontamination signal for training corpora. One join against the
    * bench shingle VOCABULARY (distinct shingles, not per-doc): eval
    * sets are small relative to a training corpus, so that side
    * broadcasts and the corpus is never shuffled for the join. */
  def contaminationRatio(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    // spread = false: the broadcast-probe + count here is light enough
    // that the r14 input spread measured as pure exchange overhead.
    val cs = shingleTable(corpus, textCol, idCol, n, spread = false)
    val bs = bench
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("shingle"))
      .distinct()
    cs.join(broadcast(bs.withColumn("__hit", lit(1))), Seq("shingle"), "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_sh"), count(col("__hit")).as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_sh").cast("double"))
  }

  /** Drop corpus documents whose contamination ratio reaches
    * `threshold`. The default 0.8 follows common decontamination
    * practice; raise to 1.0 to drop only fully-contained docs. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val dropIds = contaminationRatio(corpus, bench, textCol, idCol, n)
      .filter(col("contamination") >= threshold)
      .select(col("id").as(idCol))
    corpus.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Semantic (embedding-space) dedup, SemDeDup-style: bucket vectors by
    * nearest deterministic centroid, find within-bucket pairs with cosine
    * ≥ `threshold`, and drop the larger id of every such pair — the
    * standard greedy keep-lowest-id survivor rule (NOT transitive
    * closure: a doc survives unless some smaller-id near-duplicate shares
    * its bucket). Returns survivors as (vid, bucket).
    *
    * Scale shape: assignment is [[graft.functions.Knn.ivfAssign]]'s
    * shuffle-free broadcast projection; the pairwise cosine is quadratic
    * only WITHIN a bucket (the SemDeDup point — k buckets cut the full pair
    * space by ~k), executed as a self equi-join on `bucket`, so the
    * shuffle key is the bucket id. Bucket skew is the risk at 100 TB:
    * use k-means centroids ([[graft.functions.Knn.kmeans]]) for balanced
    * buckets, and raise `centroids` with corpus size so per-bucket
    * populations stay bounded. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Int, threshold: Double): DataFrame =
    semanticDedupAssigned(
      graft.functions.Knn.ivfAssign(corpus, idCol, vecCol, centroids),
      threshold)

  /** [[semanticDedup]] with k-means-TRAINED centroids (the 100 TB
    * setting): trained centroids give balanced buckets, which is what
    * bounds the within-bucket quadratic term when deterministic
    * first-C-ids centroids would let one fat bucket dominate. Size
    * `centroids` with the corpus (√N keeps expected bucket population
    * ~√N, so pair work ~N^1.5 total instead of N²/C). Not oracle-SQL
    * replayable — k-means means are float avgs whose value depends on
    * reduction order — so correctness is spec-pinned structurally
    * (DedupSpec) rather than hash-compared. */
  def semanticDedupTrained(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Int, iterations: Int, threshold: Double,
      replayable: Boolean = false): DataFrame = {
    val cents = graft.functions.Knn
      .kmeans(corpus, idCol, vecCol, centroids, iterations,
        replayable = replayable)
    semanticDedupAssigned(
      graft.functions.Knn.assignWith(corpus, idCol, vecCol, cents),
      threshold)
  }

  /** Shared pair→drop→survivor tail over a (vid, v, bucket) assignment. */
  private def semanticDedupAssigned(assignment: DataFrame,
      threshold: Double): DataFrame = {
    // Three plan branches read the assignment (both pair-join sides and
    // the survivor anti join); pin it so the centroid argmin runs over
    // the corpus once, not three times (same diamond as jaccardPairs).
    // DISK_ONLY (r11): this pin is CORPUS-sized — every vector with its
    // full payload — so by the probe-16 rule its deserialized blocks
    // must never compete with the pair join's execution memory (the
    // exact failure mode probe 16b measured on the shingle pins).
    val assigned = assignment.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val a = assigned.select(col("bucket"), col("vid").as("id_a"),
      col("v").as("va"))
    val b = assigned.select(col("bucket"), col("vid").as("id_b"),
      col("v").as("vb"))
    val dropped = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("vid")).distinct()
    assigned.join(dropped, Seq("vid"), "left_anti")
      .select(col("vid"), col("bucket"))
  }

  /** LSH-bucketed embedding near-dup pairs: the DATA-INDEPENDENT scale
    * path for [[graft.functions.Knn.cosinePairs]]'s exact all-pairs
    * baseline. Sign-random-projection buckets
    * ([[graft.functions.Knn.lshBucketTable]]) generate candidates —
    * vectors sharing any of `tables` B-bit sign signatures — and the
    * exact cosine verifies, so every returned pair is a TRUE ≥threshold
    * pair (precision 1.0; the bucketing only prunes candidates). Recall
    * is the LSH trade: P(detect) = 1-(1-(1-θ/π)^bits)^tables for angle θ.
    *
    * vs [[semanticDedup]]'s centroid buckets: the hyperplanes carry NO
    * corpus statistics (md5-derived from (table, plane, dim) alone), so
    * new rows bucket identically with no retrain — the variant that
    * survives streaming ingest and incremental index maintenance, at the
    * cost of needing `tables` bucket rows per vector instead of one.
    *
    * Scale shape: one unshuffled bucketing pass (each vector signed
    * once by the native kernel), then a NARROW, SALTED (t, bucket)
    * self-join, one pair-dedup aggregate
    * and an exact-cosine verify — the [[minhashPairs]] plan in vector
    * space:
    *
    *  - NARROW: the bucket join carries (t, bucket, id) only; the deduped
    *    (id_a, id_b) candidates re-attach vectors by joining back to the
    *    corpus, so each vector crosses the wire once per verify side
    *    rather than once per table.
    *  - SALTED: [[saltedCandidatePairs]] splits a hot cell into
    *    ⌈s/blockRows⌉ blocks, so a near-identical embedding flood emits
    *    its pairs across block-pair tasks instead of one sort-merge
    *    group. Auto-sized cells average ~32 rows, so on healthy corpora
    *    every cell gets one block and the join is the plain one.
    *
    * SCALING.md probe 15 measured this plan at 2.09 s on the sf0.1
    * fixture and 146 s on the 100× replica corpus, against 2.19 s and
    * 439 s with vectors riding the bucket join; probe 21 is the
    * `blockRows` sweep behind the 1024 default.
    *
    * Work is quadratic only within a (table, bucket) cell — WHICH IS WHY
    * `bits` MUST GROW WITH THE CORPUS: a fixed B gives a fixed 2^B
    * buckets per table, so per-cell population grows ∝ N and candidate
    * pairs ∝ N² (measured: 6-bit signatures went 1.7 s → 287 s on a 10×
    * corpus). The default `bits = 0` auto-sizes B = max(6, ceil(log₂(n /
    * 32))) — buckets scale with N, expected cell population stays ~32,
    * candidates stay ~linear. This is the standard LSH prescription
    * (signature length ∝ log n); per-table recall for a pair at angle θ
    * is (1-θ/π)^B, so raising B trades recall per table. The default
    * `tables = 0` auto-sizes T = max(24,
    * [[graft.functions.Knn.tablesFor]](0.9, B, 0.95))
    * ([[graft.functions.Knn.autoTables]], r14 — closing the r13
    * envelope: the historical fixed T=24 held the near-dup design
    * point, pair recall ≥ 0.95 at cosine 0.9, only through B=13 ≈ 262k
    * vectors; past it the plan silently under-recalled. The analytic
    * union bound was measured EXACT against ground truth at
    * B ∈ {6, 11, 13} — SCALING.md probe 20e; T=24 measured 0.9994
    * pair recall at the grown width under the embskew flood — so the
    * calibration is trustworthy without a per-corpus probe, and the
    * 24 floor keeps every ≤B=13 result, including the fixture
    * oracles', byte-identical). Size `tables` explicitly with
    * `tablesFor` only when your must-not-miss similarity differs from
    * the 0.9/0.95 design point. Pass an explicit `bits > 0` only to pin
    * the geometry for a frozen index or an A/B; since r12 the
    * registered gate AND its DuckDB oracle both run the adaptive rule
    * (the oracle derives the same B from count(*), and since r14 the
    * same T from the shared nb CTE), so a pinned call diverges from
    * the oracle once the corpus crosses a growth boundary. */
  def embeddingLshPairs(corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, dims: Int,
      tables: Int = 0, bits: Int = 0,
      blockRows: Int = 1024): DataFrame = {
    val b = if (bits > 0) bits
      else graft.functions.Knn.autoBits(corpus.count())
    val t = if (tables > 0) tables else graft.functions.Knn.autoTables(b)
    val bucketed = graft.functions.Knn.lshBucketTable(
      corpus, idCol, vecCol, t, b, dims)
    val cand = saltedCandidatePairs(
      bucketed.select(col("vid").as("id"), col("t"), col("bucket")),
      Seq("t", "bucket"), blockRows)
    val vecs = corpus.select(col(idCol), col(vecCol))
    cand
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("va")),
        Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb")),
        Seq("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** The persisted LSH bucket index of an embedding corpus — the
    * vector-space analogue of [[minhashBandIndex]]: distinct (t, bucket)
    * sign-signature keys, one table a warehouse maintains incrementally
    * by unioning each ingested batch's surviving buckets back in.
    * Because the hyperplanes are data-independent, the index never needs
    * rebuilding as the corpus grows — new rows bucket against the same
    * planes forever. */
  def embeddingLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, tables: Int = 8, bits: Int = 12): DataFrame =
    graft.functions.Knn.lshBucketTable(corpus, idCol, vecCol, tables, bits,
      dims).select(col("t"), col("bucket")).distinct()

  /** Incremental ingestion near-dup dedup for EMBEDDINGS: the
    * [[incrementalMinhashDedup]] shape in vector space — O(batch) per
    * day, the corpus is never rescanned. A batch row is DROPPED iff any
    * of its `tables` sign-signature buckets lands in the persisted
    * corpus index, or it shares a bucket with a smaller-id batch row
    * (min-id-wins, one-hop — the same deliberate non-transitive rule,
    * same rationale: the corpus side of a would-be exact-cosine verify
    * is exactly what an O(batch) path cannot afford to rescan).
    *
    * LSH candidacy is probabilistic, and — unlike [[embeddingLshPairs]],
    * which verifies with the exact cosine — a bucket hit here DROPS with
    * no verify, so the defaults diverge deliberately: T=8/B=12 (not the
    * pairs path's 24/6). Twelve-bit signatures push a random
    * ~orthogonal stranger's per-table collision to 2⁻¹² (≈0.2% false-
    * drop across 8 tables), while a true near-dup at cosine 0.9
    * (θ≈26°, per-table (1-θ/π)¹²≈0.16) is caught with p≈0.74 per
    * ingest — and REAL semantic duplicates sit above 0.95 where p→1.
    * The pairs path wants candidates cheap (verify cleans up); the
    * ingest path wants buckets precise (nothing cleans up).
    *
    * Scale shape: one unshuffled bucketing pass over the batch (each
    * vector signed once by the native kernel), one (t, bucket) window
    * shuffle O(batch·tables), one
    * semi-join probe against the pre-bucketed index. */
  def incrementalEmbeddingDedup(batch: DataFrame, lshIndex: DataFrame,
      idCol: String, vecCol: String, dims: Int,
      tables: Int = 8, bits: Int = 12): DataFrame =
    incrementalEmbeddingDedupWithIndex(batch, lshIndex, idCol, vecCol,
      dims, tables, bits)._1

  /** [[incrementalEmbeddingDedup]] returning ALSO the survivors'
    * distinct (t, bucket) signature keys — from the same pinned bucket
    * table, so ingest callers skip a second T·B-dot signing pass (the
    * [[incrementalMinhashDedupWithIndex]] rationale in vector space). */
  def incrementalEmbeddingDedupWithIndex(batch: DataFrame,
      lshIndex: DataFrame, idCol: String, vecCol: String, dims: Int,
      tables: Int = 8, bits: Int = 12): (DataFrame, DataFrame) =
    bucketDedup(batch, graft.functions.Knn.lshBucketTable(batch, idCol,
        vecCol, tables, bits, dims)
      .select(col("vid").as("id"), col("t"), col("bucket")),
      lshIndex, idCol, Seq("t", "bucket"))

  /** STREAMING exact dedup: drop any document whose normalized-text
    * fingerprint was already emitted, with state bounded by the event-time
    * watermark (`dropDuplicatesWithinWatermark` expires fingerprint state
    * once it can no longer collide) — the ingestion-time form of
    * [[exactDedup]] for a continuously-arriving corpus. State is
    * per-fingerprint, partitioned by Spark's streaming state store, so it
    * scales out with the cluster rather than any single host's memory. */
  def exactDedupStream(df: DataFrame, textCol: String, tsCol: String,
      watermark: String): DataFrame = {
    // Null-text rows pass through un-deduplicated (the module's null
    // policy): fingerprint(null) is null, and running the null key
    // through the state store would collapse every null-text document
    // into one. The null branch is stateless, so the union adds no
    // watermark or state interaction.
    val fp = df.withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
    val deduped = fp.filter(col("__fp").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
    deduped.unionByName(fp.filter(col("__fp").isNull).drop("__fp"))
  }

  /** Default 64-bit token/shingle hash: xxhash64 (codegen'd, fast). */
  val xxHash: Column => Column = c => xxhash64(c)
  val xxSeedHash: (Column, Column) => Column = (c, seed) => xxhash64(c, seed)

  /** Cross-engine-deterministic 60-bit hash: the first 15 hex digits of
    * md5, as a long. Any SQL engine with md5 reproduces it exactly
    * (DuckDB: `('0x' || substr(md5(x), 1, 15))::BIGINT`), so sketches
    * built on it — SimHash values, MinHash signatures — are verifiable
    * against an external oracle. Slower than xxhash64, which stays the
    * default for production runs; 60 bits (not 64) keeps the value
    * positive in a signed BIGINT in both engines. */
  val md5Hash60: Column => Column =
    c => conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** A MinHash hash family split into `prepare` — the expensive digest,
    * run ONCE per shingle — and `slot` — cheap arithmetic deriving the k
    * per-seed hashes from the prepared value. Without the split, a
    * k-slot signature digests every shingle k times. */
  final case class MinHashFamily(prepare: Column => Column,
      slot: (Column, Column) => Column)

  /** Production default: xxhash64 re-seeded per slot (cheap enough to
    * skip preparation). */
  val xxFamily: MinHashFamily =
    MinHashFamily(identity, (sh, seed) => xxhash64(sh, seed))

  /** Oracle-replayable family: 28-bit md5-prefix base, then the affine
    * universal family (a_i * base + i) mod 2^31-1 with multipliers
    * a_i = (2654435761 * (i+1)) mod 2^30 + 1 (Knuth's multiplier;
    * any nonzero a mod a prime is a valid universal-family member).
    * Bounds: a ≤ 2^30, base < 2^28 — products stay far under 2^63, so
    * ANSI-mode arithmetic never overflows in either engine. */
  val md5AffineFamily: MinHashFamily = MinHashFamily(
    c => conv(substring(md5(c), 1, 7), 16, 10).cast("long"),
    (base, seed) => {
      val s = seed.cast("long")
      val a = (lit(2654435761L) * (s + lit(1L))) % lit(1073741824L) + lit(1L)
      (a * base + s) % lit(2147483647L)
    })

  /** MinHash signature: k independent hash functions simulated by salting
    * `hashFn` with the function index; signature[i] = min over shingles.
    * One narrow projection — no shuffle, no UDF. */
  def minhashSignature(shinglesCol: Column, k: Int,
      hashFn: (Column, Column) => Column = xxSeedHash): Column =
    transform(sequence(lit(0), lit(k - 1)),
      seed => array_min(transform(shinglesCol, sh => hashFn(sh, seed))))

  /** Distinct unordered id pairs sharing a bucket key, with
    * size-adaptive TRIANGLE SALTING (r10, probe 13's fix): a hot bucket
    * of s rows — the planted-boilerplate shape, where every band of
    * every near-dup hashes identically — is split into
    * B = ⌈s / blockRows⌉ deterministic blocks (xxhash64 of the id mod
    * B), and the s²/2 pair emission runs as B(B+1)/2 independent
    * block-pair join groups instead of ONE many-to-many sort-merge
    * group serialized in a single task. Each unordered row pair (p, q)
    * with blocks (i ≤ j) meets under exactly one (…key, i, j) join key:
    * the x side replicates a block-i row to keys (i, j) for j ≥ i, the
    * y side a block-j row to keys (i, j) for i ≤ j, so cross-block
    * pairs appear once as (x, y) and same-block pairs appear in both
    * orders — `least/greatest` normalizes and the terminal `distinct`
    * (already required because a pair can collide in several buckets)
    * collapses the double. Healthy buckets (s ≤ blockRows) get B = 1:
    * zero replication, byte-identical join behavior to the unsalted
    * form. Replication cost for a hot bucket is (B+1)/2 ≈ √(s·work)
    * narrow rows per input row — negligible against the s²/2 output it
    * parallelizes. The bucket-size window and both salted sides hang
    * off the SAME exchange (hash on the bucket key), so upstream
    * compute runs once (ReusedExchange); rows here are NARROW by
    * contract — ids and key columns only, payloads re-attached by the
    * caller after the pair set is deduped. */
  private[dedup] def saltedCandidatePairs(bucketed: DataFrame,
      keyCols: Seq[String], blockRows: Int,
      idCol: String = "id"): DataFrame = {
    require(blockRows > 0, s"blockRows must be positive, got $blockRows")
    require(bucketed.columns.contains(idCol),
      s"saltedCandidatePairs: id column '$idCol' not in input " +
      s"(${bucketed.columns.mkString(", ")})")
    val keys = keyCols.map(col)
    val sized = bucketed
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .withColumn("__nb",
        greatest(lit(1L), ceil(col("__n") / lit(blockRows.toDouble))).cast("long"))
      .withColumn("__blk", pmod(xxhash64(col(idCol), lit(0x5a17L)), col("__nb")))
    val x = sized.select(keys ++ Seq(col(idCol).as("__idx"),
      col("__blk").as("__lo"),
      explode(sequence(col("__blk"), col("__nb") - 1)).as("__hi")): _*)
    val y = sized.select(keys ++ Seq(col(idCol).as("__idy"),
      col("__blk").as("__hi"),
      explode(sequence(lit(0L), col("__blk"))).as("__lo")): _*)
    x.join(y.hint("merge"), keyCols ++ Seq("__lo", "__hi"))
      .filter(col("__idx") =!= col("__idy"))
      .select(least(col("__idx"), col("__idy")).as("id_a"),
        greatest(col("__idx"), col("__idy")).as("id_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard — the
    * standard candidate-then-verify pipeline. Two docs are candidates
    * iff some band of r signature slots matches; with k = b·r slots,
    * P(candidate) ≈ 1-(1-J^r)^b. Defaults b=8, r=4: J=0.9 → 0.9995
    * recall, while unrelated pairs (J≈0.1) collide at ~8·10⁻⁴ — r must
    * be ≥4 when the corpus has high baseline similarity (small
    * vocabularies), else random band collisions swamp verification
    * (measured 218 s → 3 s at 5k docs going r=2 → r=4).
    *
    * Plan:
    *
    *  1. One aggregate per doc computes the shingle SET (verify payload)
    *     and the k min-slots (signature) in a single id-shuffle. Its
    *     partial-aggregate exchange is shared by the banding and both
    *     verify sides, so the tokenize/shingle/digest scan runs once.
    *  2. NARROW band join: the self-join carries (id, band, bh) only,
    *     `bh` being the band's r signature slots joined AS the key
    *     (array equality — no second-level band hash to keep in sync
    *     with the oracle).
    *  3. [[saltedCandidatePairs]] on the narrow rows: a hot bucket's
    *     pair emission parallelizes across ⌈s/blockRows⌉²/2 block-pair
    *     tasks; buckets of at most `blockRows` rows get one block and
    *     the plain join. Narrow rows make the salt's replication cheap.
    *  4. Verify re-attaches the sets AFTER the pair dedup, joining the
    *     (id_a, id_b) candidates back to the per-doc set table — the
    *     payload crosses the wire once per side, and only for docs that
    *     are actually candidates.
    *
    * Why narrow and salted (SCALING.md probe 15): a shingle set riding
    * the band join crosses the band exchange once per band (8× the
    * payload bytes) and is sorted on both join sides, and the planted
    * boilerplate clique serializes its whole s²/2 emission in one
    * sort-merge task. This plan measured 2.48 s vs 3.17 s on the sf0.1
    * fixture, 6.51 vs 14.94 s under the skew-2× clique and 10.5 vs
    * 33.0 s on the 100× replicas; probe 21 is the `blockRows` sweep
    * behind the 1024 default. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.8,
      bands: Int = 8, rowsPerBand: Int = 4,
      family: MinHashFamily = xxFamily,
      blockRows: Int = 1024): DataFrame = {
    val k = bands * rowsPerBand
    // `prepare` on the exploded shingle ROWS (each shingle digested
    // once); min-agg over rows ≡ array_min over the collected list, so
    // the signature equals minhashSignature's (the incremental paths').
    val sh = shingleTable(df, textCol, idCol, shingleN)
      .select(col("id"), col("shingle"),
        family.prepare(col("shingle")).as("base"))
    val minCols = (0 until k).map(s =>
      min(family.slot(col("base"), lit(s))).as(s"__m$s"))
    val agg = sh.groupBy("id")
      .agg(collect_set(col("shingle")).as("shset"), minCols: _*)
    val banded = bandKeys(agg
      .select(col("id"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig")),
      bands, rowsPerBand)
    val cand = saltedCandidatePairs(banded, Seq("band", "bh"), blockRows)
    val sets = agg.select(col("id"), col("shset"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shset").as("set_a")),
        Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shset").as("set_b")),
        Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("set_a")) + size(col("set_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-dup clusters via MinHash+LSH with an EXACT-COLLAPSE prestage —
    * the skew-proof scale path for `clusterPairs(minhashPairs(...))`.
    *
    * The adversarial real-world shape (a boilerplate document duplicated
    * onto a large fraction of a CommonCrawl-scale corpus) makes every
    * band of every duplicate hash to the SAME bucket, so the all-pairs
    * bucket self-join in [[minhashPairs]] materializes |dups|²/2 rows —
    * quadratic in the corpus at fixed duplication rate. The pair LIST is
    * inherently quadratic there (it IS the output); the CLUSTERS are
    * not, and this operator computes exactly them:
    *
    *  1. collapse byte-identical-after-lower() documents to one
    *     representative (min id) per md5(lower(text)) key — one
    *     map-side-combinable groupBy on a 32-char digest, the document
    *     payload never shuffles;
    *  2. run the full [[minhashPairs]] → [[clusterPairs]] pipeline on
    *     REPRESENTATIVES only (the planted mega-cluster is now ONE row);
    *  3. expand: each member inherits its representative's canonical
    *     label; a ≥2-member group whose text shingles at all is a J=1
    *     clique, so it clusters on its representative even when that
    *     representative pairs with no other.
    *
    * EXACTLY equal to `clusterPairs(minhashPairs(df, ...))` (spec-pinned
    * law): same-key docs have identical token arrays (tokens() lowers
    * before splitting), hence identical shingle sets, signatures,
    * buckets, and pairwise J=1 ≥ threshold — so collapsing them neither
    * adds nor removes connectivity, and the canonical (global min id) of
    * every merged cluster is the min over its representatives, each of
    * which is already its group's min. Keying on md5(lower(text)) rather
    * than [[graft.functions.TextFunctions.fingerprint]] is load-bearing:
    * the fingerprint also collapses whitespace runs, which DOES change
    * the token array — two fingerprint-equal docs can shingle
    * differently, and only the lower()-exact key preserves the law. */
  def minhashClusters(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.8,
      bands: Int = 8, rowsPerBand: Int = 4,
      family: MinHashFamily = xxFamily,
      maxIterations: Int = 25): DataFrame = {
    // Jaccard is bounded by 1: above that the composed form yields NO
    // pairs while the collapse prestage would still cluster exact
    // duplicates, silently breaking the spec-pinned equality law —
    // reject the out-of-domain value instead (r9 ADVICE).
    require(threshold <= 1.0,
      s"threshold must be <= 1.0 (Jaccard upper bound), got $threshold")
    // The representatives' own near-dup (non-identical boilerplate) hot
    // buckets — the shape the exact-collapse prestage cannot absorb —
    // are what minhashPairs' salted band join parallelizes (SCALING.md
    // probe 15, nearskew).
    collapsedClusters(df, textCol, idCol, shingleN, maxIterations)(reps =>
      minhashPairs(reps, textCol, idCol, shingleN, threshold, bands,
        rowsPerBand, family))
  }

  /** [[jaccardPairs]] clusters through the same exact-collapse prestage
    * — and through the PREFIX-FILTERED verifier ([[jaccardPairsPrefix]],
    * identical results, spec-pinned), which is what neutralizes the
    * OTHER adversarial shape the collapse alone cannot: a universal
    * ("stopword-gram") shingle shared by every document makes the naive
    * co-occurrence join Σ df² = |corpus|² — the prefix filter ranks it
    * last in every document's canonical order, so it never enters a
    * prefix and never joins. EXACTLY equal to
    * `clusterPairs(jaccardPairs(df, ...))` (spec-pinned law, same
    * argument as [[minhashClusters]]: same-key docs have identical
    * shingle sets, hence pairwise J = 1 ≥ threshold). */
  def jaccardClusters(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxIterations: Int = 25): DataFrame = {
    // Same domain guard as [[minhashClusters]] — keeps the composed-form
    // equality law valid over the whole accepted parameter range.
    require(threshold <= 1.0,
      s"threshold must be <= 1.0 (Jaccard upper bound), got $threshold")
    collapsedClusters(df, textCol, idCol, n, maxIterations)(reps =>
      jaccardPairsPrefix(reps, textCol, idCol, n, threshold))
  }

  /** The shared exact-collapse → pair → cluster → expand skeleton of
    * [[minhashClusters]] / [[jaccardClusters]]. `pairsFn` runs the
    * caller's pair pipeline over REPRESENTATIVES only and must return
    * (id_a, id_b, ...) with the property that same-key duplicates would
    * have paired at J = 1 (true for every shingle-set similarity). */
  private def collapsedClusters(df: DataFrame, textCol: String,
      idCol: String, shingleN: Int, maxIterations: Int)(
      pairsFn: DataFrame => DataFrame): DataFrame = {
    val members = df
      .select(col(idCol).as("id"), md5(lower(col(textCol))).as("__k"),
        (size(TextFunctions.tokens(col(textCol))) >= shingleN).as("__hs"))
      .filter(col("__k").isNotNull) // null text: no shingles, no pairs
    val groups = members.groupBy(col("__k"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("__n"),
        max(col("__hs")).as("__hs")) // __hs identical within a group
    // Representatives-side spread (r15): the pair pipeline's shingle
    // digest + signature compute over reps is the cluster path's
    // dominant CPU, and at fixture scale AQE coalesces the semi-join's
    // tiny shuffle to ~1 partition, serializing it. reps cannot be
    // probed directly (executing its plan to count partitions would run
    // the collapse prestage as a throwaway job — the r14 ADVICE trap);
    // the decision comes from the SOURCE scan via spreadLike: no-op at
    // any scale where the corpus scan splits.
    val reps = graft.util.Spread.spreadLike(df, df.join(
      groups.select(col("rep").as(idCol)), Seq(idCol), "left_semi"),
      col(idCol))
    val repClusters = clusterPairs(
      pairsFn(reps).select(col("id_a"), col("id_b")), maxIterations)
      .select(col("id").as("rep"), col("canonical_id").as("__rc"))
    members.select(col("id"), col("__k")).join(groups, Seq("__k"))
      .join(repClusters, Seq("rep"), "left")
      // Rep unclustered: the group itself is a cluster iff it has >= 2
      // members AND its text shingles (shingle-less dups never pair,
      // so they must not cluster here either).
      .withColumn("canonical_id",
        coalesce(col("__rc"),
          when(col("__n") >= 2 && col("__hs"), col("rep"))))
      .filter(col("canonical_id").isNotNull)
      .select(col("id"), col("canonical_id"))
  }

  /** 64-bit SimHash over token hashes: bit b of the result is 1 iff the
    * sum over tokens of ±1 (sign of bit b of xxhash64(token)) is positive.
    * Computed as 64 conditional sums in one aggregation — one shuffle,
    * no UDF, no per-bit row blowup. */
  def simhash(df: DataFrame, textCol: String, idCol: String,
      tokenHash: Column => Column = xxHash): DataFrame = {
    // Count per (id, token) FIRST, then hash each distinct pair once and
    // weight its bit votes by the count: Σ_tokens ±1 == Σ_distinct
    // count·(±1), so the result is identical but the (expensive,
    // md5-family) token digest runs once per distinct pair instead of
    // once per occurrence — ~4× fewer digests on natural text, and the
    // extra groupBy is partial-aggregable (combiner-friendly) on both
    // levels.
    val counted = df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("__cnt"))
    val hashed = counted.select(col("id"), col("__cnt"),
      tokenHash(col("tok")).as("h"))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, col("__cnt"))
        .otherwise(-col("__cnt"))).as(s"b$b")
    }
    val agg = hashed.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L) * lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share one of four 16-bit chunks
    * (any pair within Hamming distance 3 must agree on ≥1 chunk), verified
    * by popcount(xor) ≤ maxHamming. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, tokenHash: Column => Column = xxHash): DataFrame = {
    val sims = simhash(df, textCol, idCol, tokenHash)
    val withChunk = sims
      .withColumn("chunk", explode(array((0 until 4).map(lit): _*)))
      .withColumn("cval",
        expr("shiftright(simhash, chunk * 16)").bitwiseAND(lit(0xFFFFL)))
      .select(col("id"), col("simhash"), col("chunk"), col("cval"))
    withChunk.as("x").join(withChunk.as("y"), Seq("chunk", "cval"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
