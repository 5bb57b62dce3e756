package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{Knn, TextFunctions, VectorFunctions}
import graft.model.Tables
import graft.multimodal.MultimodalOps
import graft.streaming.EventsOps

/** LLM-data-pipeline operator surface (SURVEY §2.7): text analysis, dedup
  * (exact / Jaccard / MinHash / SimHash), vector similarity search,
  * sampling/splits, multimodal binary columns, and windowed event
  * aggregation. EVERY query here has an exact DuckDB oracle — the sketch
  * queries run on md5-derived hash families the oracle replays, while
  * xxhash64 stays each operator's library default.
  */
object ExtensionQueries extends graft.QueryModule {

  /** Materialize `df` into a driver-local relation, then run `cleanup`
    * — lets a streaming gate query release its temp warehouse dir and
    * memory-sink view BEFORE returning, instead of leaking them until
    * JVM exit (r9 ADVICE: repeated gate/bench executions of
    * stream_session leaked a full parquet copy of events plus a
    * memory sink per run). Safe here by construction: every streaming
    * gate query's OUTPUT is a narrow bounded result (ids, per-key
    * aggregates), never the corpus — the corpus-sized state lives in
    * the temp warehouse this helper deletes. */
  private[queries] def materializedThen(s: SparkSession, df: DataFrame)(
      cleanup: => Unit): DataFrame =
    try
      // Eager DISK_ONLY checkpoint, NOT collect-into-LocalRelation (r14,
      // probe 24): the result only needs its lineage severed from the
      // temp store so `cleanup` can delete it — it does not need to
      // visit the driver. The collect form held O(result) rows on the
      // driver heap and re-shipped them in every consumer's task
      // closures (19.8 MB/task at the 100× sweep); for the gates whose
      // RESULT is corpus-sized (the streaming-ingest and SCD2 stream
      // legs) that is O(corpus) on the driver, and the accumulated
      // LocalRelations drove the sf100 sweep JVM into a GC death
      // spiral. The checkpoint keeps every row on executor-side disk
      // blocks (the probe-16 storage level), exactly one extra
      // materialization — same cost the collect already paid, minus
      // the driver round-trip.
      df.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    finally
      try cleanup
      catch { case e: Throwable =>
        System.err.println(s"[graft] gate-query cleanup failed: ${e.getMessage}")
      }

  /** Best-effort recursive delete of a gate query's temp directory. */
  private[queries] def deleteTree(dir: String): Unit =
    graft.util.FsUtil.deleteTree(dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text analysis: per-document quality features. All the text_* scans
    // sort FIRST and compute the expensive text expressions ABOVE the
    // sort: the range partitioner's sampling pass re-executes the sort's
    // child, so anything below the orderBy runs twice (measured ~2x on
    // text_langid at sf0.1).
    "text_stats" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select(
          $"doc_id",
          length($"text").as("n_chars"),
          TextFunctions.tokenCount($"text").as("n_tokens"),
          TextFunctions.wordHits($"text", TextFunctions.EnglishStopwords)
            .as("stopword_hits"),
          TextFunctions.stopwordRatio($"text").as("stopword_ratio"),
          TextFunctions.meanTokenLength($"text").as("mean_token_len"))
    },

    // Document fingerprint (exact-dedup key).
    "text_fingerprint" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
    },

    // Shingling: distinct word-3-gram count per document.
    "text_shingle_stats" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select($"doc_id", TextFunctions.tokens($"text").as("__toks"))
        .select($"doc_id",
          size(TextFunctions.shinglesFromTokens($"__toks", 3)).as("n_shingles"))
    },

    // BPE-ish token budgeting.
    "text_bpe_tokens" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select($"doc_id",
          TextFunctions.bpeTokenCount($"text").as("n_bpe_tokens"))
    },

    // Distributed BPE merge training (Sennrich 2016): 20 merges learned
    // from the corpus — ONE corpus pass to word frequencies, then every
    // iteration runs at vocabulary scale. Oracle-exact (r8): the DuckDB
    // oracle replays all 20 data-dependent (pair-count → argmax →
    // rewrite) iterations as chained CTEs over the wrapped-symbol word
    // state — the docs_quality_model chained-CTE recipe applied to the
    // training loop itself, valid at ANY scale because the oracle
    // trains on the same corpus. The sf0.01 merge table additionally
    // stays pinned by a committed golden (GoldenOutputSpec) because it
    // is the FIXED configuration the text_bpe_segments query applies.
    "text_bpe_merges" -> { (s, dir) =>
      graft.functions.Bpe.train(Tables.documents(s, dir), "text", 20)
        .orderBy(col("rank"))
    },

    // The SECOND production tokenizer family (Kudo 2018 — SentencePiece
    // unigram): seed-vocabulary training PLUS one hard-EM refinement
    // round (r9 — the full SentencePiece shape: seed, E-step Viterbi
    // counts at type scale, M-step renormalize). All steps are
    // vocabulary-scale aggregates; logp is one ln per piece rounded at
    // 8, everything else exact integers. The oracle chains the seed
    // CTEs, the 16-layer Viterbi DP replay, and the M-step; the
    // likelihood-never-decreases law is pinned in UnigramLmSpec.
    "text_unigram_vocab" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val U = graft.functions.UnigramLm
      val seed = U.train(docs, "text", vocabSize = 64, maxPieceLen = 4)
        .select(col("piece"), col("logp"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      U.emRefine(docs, "text", seed, 4)
        .orderBy(col("piece"))
    },

    // Viterbi max-likelihood segmentation of every word TYPE under the
    // TRAINED (seed + one EM round) unigram vocabulary (types, never
    // instances — the BPE apply discipline). The vocabulary broadcasts
    // as ONE MapType literal; the DP is two HOF folds per type. The
    // oracle replays the seed CTEs, the seed-vocab DP, the EM M-step,
    // and a SECOND 16-layer DP under the refined vocabulary.
    "text_unigram_segments" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val U = graft.functions.UnigramLm
      val seed = U.train(docs, "text", vocabSize = 64, maxPieceLen = 4)
        .select(col("piece"), col("logp"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val refined = U.emRefine(docs, "text", seed, 4)
        .select(col("piece"), col("logp"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      U.segmentTypes(docs, "text", refined, 4)
        .orderBy(col("word"))
    },

    // The apply leg of BPE: segment every document with a FIXED trained
    // merge table (the committed sf0.01 golden) and report per-doc
    // subword counts — the corpus tokenization step a trained
    // vocabulary exists for, which in production applies a table
    // trained ONCE to any later corpus. Both sides apply the SAME
    // committed table (r8 — the Spark side no longer retrains live, so
    // the query is valid at any scale instead of only where training
    // happens to reproduce the golden): the DuckDB oracle applies it
    // via wrapped-symbol replace() chains, training itself is pinned
    // oracle-exact by text_bpe_merges, and the segment column is
    // law-tested against the encodeWord reference in BpeSpec.
    "text_bpe_segments" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val merges = goldenBpeMerges // <= 20 rows of committed config
      // Segment WORD TYPES, not instances: the k chained merge folds are
      // interpreted (HOFs don't codegen), so running them per word
      // INSTANCE cost 30 s at sf0.1 — per distinct word it is vocabulary
      // -scale work and the instances get their counts via a join the
      // optimizer broadcasts (same results). The same split is what
      // scales: 100 TB of text has millions of word types, not
      // trillions of instances.
      val wordsOf = (d: org.apache.spark.sql.DataFrame) => d
        .select($"doc_id", explode(TextFunctions.tokens($"text")).as("w"))
        .where($"w" =!= "")
      val segCounts = wordsOf(docs).select($"w").distinct()
        .select($"w",
          size(graft.functions.Bpe.segment($"w", merges)).as("n_segs"))
      wordsOf(docs)
        .join(segCounts, Seq("w"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"), sum($"n_segs").as("n_bpe_tokens"))
        .orderBy($"doc_id")
    },

    // Iteration 0 of BPE training, oracle-replayed: adjacent character
    // pair counts over word types, weighted by word frequency — the
    // corpus statistic the first merge argmaxes over.
    "text_bpe_pair_counts" -> { (s, dir) =>
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens($"text")).as("w"))
        .where($"w" =!= "" && $"w".isNotNull)
        .groupBy($"w").agg(count(lit(1)).as("freq"))
      words.where(length($"w") >= 2)
        .select($"w", $"freq",
          explode(sequence(lit(1), length($"w") - 1)).as("i"))
        .select($"w".substr($"i", lit(1)).as("a"),
          $"w".substr($"i" + 1, lit(1)).as("b"), $"freq")
        .groupBy($"a", $"b").agg(sum($"freq").as("cnt"))
        .orderBy($"a", $"b")
    },

    // Order-sensitive rolling-hash document fingerprint.
    "text_rolling_hash" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select($"doc_id", TextFunctions.tokens($"text").as("__toks"))
        .select($"doc_id",
          TextFunctions.rollingHash($"__toks").as("rolling_hash"))
    },

    // Language-ID heuristic (marker-word argmax; oracle mirrors the
    // hits-then-lang tiebreak; accuracy on real-language samples is
    // pinned by TextFunctionsSpec).
    "text_langid" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id", $"lang", $"text")
        .orderBy($"doc_id")
        .select($"doc_id", $"lang", TextFunctions.langId($"text").as("lang_pred"))
    },

    // LEARNED language-ID (r8): multinomial Naive Bayes over hashed
    // char-bigram buckets (the fasttext-langid shape; LangModel),
    // trained on the corpus's own lang labels and classifying the same
    // corpus. Counting-based training makes the WHOLE model
    // oracle-replayable without iteration: bucket log-probs, priors,
    // decimal score sums and the (score desc, lang desc) argmax all
    // replay in one SQL statement. Accuracy on real multi-language
    // prose and on the corpus labels is pinned by LangModelSpec.
    "text_langid_model" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      docs.select($"doc_id", $"lang")
        .join(graft.functions.LangModel
          .selfClassify(docs, "text", "lang", "doc_id", 256)
          .withColumnRenamed("id", "doc_id"), Seq("doc_id"))
        .orderBy($"doc_id")
    },

    // Repetition quality signal: distinct-token fraction and the top
    // token's share of the document — high repetition flags boilerplate
    // and degenerate generations.
    "text_repetition" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", explode(TextFunctions.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max($"c").as("top_count"))
        .withColumn("distinct_ratio",
          $"n_distinct".cast("double") / $"n_tokens".cast("double"))
        .withColumn("top_share",
          $"top_count".cast("double") / $"n_tokens".cast("double"))
        .orderBy($"doc_id")
    },

    // Per-source corpus profile (the grouping a crawl pipeline reports).
    "docs_per_source" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          countDistinct($"lang").as("n_langs"))
        .orderBy($"source")
    },

    // Composite pretraining-quality filter: keep docs inside token/char
    // bounds with an acceptable stopword ratio — the filter-chain shape
    // of a training-data pipeline, as one predicate pushdown-friendly
    // select.
    "docs_quality_filter" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"n_chars",
          TextFunctions.tokenCount($"text").as("n_tokens"),
          TextFunctions.stopwordRatio($"text").as("stopword_ratio"))
        .filter($"n_tokens" >= 10 && $"n_tokens" <= 60 &&
          $"n_chars" >= 50 && $"stopword_ratio" <= 0.3)
        .orderBy($"doc_id")
    },

    // Learned quality scoring (r7): a logistic classifier DISTILLED
    // from the heuristic gate (weak supervision — the fasttext-scorer
    // shape of LLM curation), trained with the deterministic
    // decimal-GD recipe so the LEARNED WEIGHTS themselves are under
    // the exact-hash oracle gate: the oracle replays all 8 gradient
    // steps as chained CTEs.
    "docs_quality_model" -> { (s, dir) =>
      import s.implicits._
      val w = trainQualityModel(s, dir)
      w.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
        .toDF("dim_idx", "weight").orderBy($"dim_idx")
    },

    // The corpus scored with the trained model — one codegen'd
    // projection with literal weights (no broadcast, no join), the
    // 100 TB scoring path a learned filter exists for.
    "docs_quality_scored" -> { (s, dir) =>
      import s.implicits._
      val w = trainQualityModel(s, dir)
      val sc = graft.functions.QualityModel.score("text", "n_chars", w)
      Tables.documents(s, dir)
        .filter($"text".isNotNull && $"n_chars".isNotNull)
        .select($"doc_id", sc.as("score"))
        .withColumn("predicted", $"score" >= 0.5)
        .orderBy($"doc_id")
    },

    // Threshold calibration for the learned quality model: sweep 9
    // operating points and report kept-count / precision / recall vs
    // the rule gate the model was distilled from — the curve a pipeline
    // owner reads to pick the production cutoff. One scoring scan
    // cross-joined with the broadcast 9-row threshold table (constant-
    // factor amplification, collapsed map-side to 9 rows/partition by
    // partial aggregation); ratios are single IEEE divisions of exact
    // counts.
    "docs_quality_calibration" -> { (s, dir) =>
      import s.implicits._
      val w = trainQualityModel(s, dir)
      val sc = graft.functions.QualityModel.score("text", "n_chars", w)
      val scored = Tables.documents(s, dir)
        .filter($"text".isNotNull && $"n_chars".isNotNull)
        .select(sc.as("score"),
          graft.pipeline.Curation.qualityPredicate($"text",
            graft.pipeline.Curation.QualityThresholds()).as("y"))
      graft.functions.QualityModel.calibrate(scored, "score", "y",
        (1 to 9).map(_ / 10.0))
        .orderBy($"threshold")
    },

    // Gopher repetition rules (r7): within-document self-similarity —
    // top-bigram coverage, duplicate-trigram coverage, duplicate
    // 10-token-chunk (line proxy) coverage, each thresholded at the
    // published cutoffs. One exploded exchange feeds all three signals.
    "docs_repetition_rules" -> { (s, dir) =>
      graft.ops.Repetition.repetitionStats(
        Tables.documents(s, dir), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // DSIR-style importance re-weighting (r7): hashed-bigram
    // log-likelihood ratios between the target slice (src0 plays the
    // target domain) and the raw corpus — the published importance-
    // resampling selection method, fully oracle-replayed (every ln
    // rounded at 8, decimal term sums).
    "docs_dsir_weights" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.ops.Dsir.dsirWeights(docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"), "text", "doc_id", 256)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // The resampling leg: 50 raw docs drawn ∝ exp(logw) via the
    // deterministic Gumbel-max trick (md5 uniforms — any engine replays
    // the identical sample; epochs re-salt). TakeOrderedAndProject
    // global top-k, never a single-partition window.
    "docs_dsir_sample" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val wts = graft.ops.Dsir.dsirWeights(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"), "text", "doc_id", 256)
      graft.ops.Dsir.gumbelResample(wts, 50, "dsir-v1")
        .select(col("id").as("doc_id"), col("logw"), col("score"))
    },

    // Exact dedup groups by normalized-text fingerprint.
    "dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
        .orderBy(col("canonical_id"))
    },

    // Exact all-pairs 3-gram Jaccard near-dup pairs (threshold calibrated
    // to the planted near-dups). REROUTED to the PPJoin prefix+positional
    // form in r11 (SCALING.md probe 18b): with the positional filter the
    // prefix route is now faster at every measured point — 2.2 vs 3.2 s
    // on the healthy sf0.1 fixture, 13.4 vs 43.0 s under the
    // non-collapsible nearskew-2× flood (the naive form pays Σ df² on
    // the universal shingle) — so the registered gate and the scale path
    // are the same plan. Results identical by the DedupSpec law; the
    // naive co-occurrence form (Dedup.jaccardPairs) stays as the
    // spec-anchored exact baseline the law compares against.
    "dedup_jaccard_pairs" -> { (s, dir) =>
      Dedup.jaccardPairsPrefix(Tables.documents(s, dir), "text", "doc_id",
        3, 0.8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Near-dup clusters: connected components of the Jaccard pair graph
    // (iterative min-label propagation), the survivor-selection step of
    // a dedup pipeline. Routed through the exact-collapse + prefix-
    // filtered scale path (r9) — law-pinned equal to
    // clusterPairs(jaccardPairs(...)), which the oracle replays, so the
    // gate proves the skew-proof composition is invisible in the result.
    "dedup_clusters" -> { (s, dir) =>
      Dedup.jaccardClusters(Tables.documents(s, dir), "text", "doc_id",
        3, 0.8)
        .orderBy(col("id"))
    },

    // MinHash near-dup clusters through the EXACT-COLLAPSE scale path
    // (r9): byte-identical-after-lower() docs collapse to one
    // representative before the LSH bucket self-join, so the
    // adversarial 20%-boilerplate corpus costs O(distinct docs), not
    // O(duplicates²). Law-pinned equal to clusterPairs(minhashPairs) in
    // DedupSpec; the oracle replays the COMPOSED form, proving the
    // collapse is invisible in the result. md5 family so the full
    // signature pipeline is DuckDB-replayable.
    "dedup_minhash_clusters" -> { (s, dir) =>
      Dedup.minhashClusters(Tables.documents(s, dir), "text", "doc_id",
        3, 0.8, family = Dedup.md5AffineFamily)
        .orderBy(col("id"))
    },

    // Train/test leakage guard: hash-split the corpus, then repair every
    // near-dup cluster that straddles a split boundary by reassigning
    // the whole cluster to its canonical member's split — the
    // cross-split contamination fix a held-out split needs BEFORE
    // benchmark decontamination even starts (a test doc whose near-dup
    // sits in train is memorized, not held out). Fully oracle-replayed:
    // the split CASE and the recursive-CTE components compose.
    // Pair source REROUTED to the PPJoin prefix+positional form (r14 —
    // the same reroute dedup_jaccard_pairs took in r11, guide §3.2
    // "reduce the big side before shuffling it"): jaccardPairsPrefix ==
    // jaccardPairs is the DedupSpec-pinned law, so the guard's input
    // pairs — and therefore the oracle-gated result — are identical,
    // while the candidate join runs over ~(1-τ) of the shingle rows and
    // survives the hot-shingle flood the naive form is quadratic under
    // (probe 18b: 13.4 vs 43.0 s at nearskew 2×). Measured here:
    // 4.31 → 2.56 s at sf0.1 (session-relative, OPTIMIZATION_r14.md).
    "docs_split_leakage" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val assign = docs.select(col("doc_id"),
        graft.ops.Sampling.splitColumn(col("doc_id"), "split-v1",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      Dedup.splitLeakageGuard(assign, "doc_id", "split",
        Dedup.jaccardPairsPrefix(docs, "text", "doc_id", 3, 0.8))
        .orderBy(col("doc_id"))
    },

    // The composed flagship under the oracle gate: quality filter →
    // exact dedup → MinHash near-dup (md5 family, so the LSH stage
    // replays) → benchmark decontamination (the src0 slice plays the
    // benchmark) → leakage-repaired hash split. Audit-column output —
    // every stage TAGS rather than drops (Curation's design), so the
    // oracle checks every stage's verdict for every document in one
    // row. The oracle composes the per-stage replays: quality CASE,
    // fingerprint window, the minhash pair CTEs + recursive-CTE cluster
    // solve, the shingle-overlap contamination join, and the split CASE
    // applied to coalesce(canonical_id, doc_id).
    "pipeline_curation" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("source") === "src0")
      graft.pipeline.Curation.curate(docs, bench,
          family = Dedup.md5AffineFamily)
        .select(col("doc_id"), col("passed_quality"), col("is_exact_dup"),
          col("is_near_dup"), col("is_contaminated"), col("split"),
          col("split_moved"))
        .orderBy(col("doc_id"))
    },

    // The curation run's per-stage drop accounting (Curation.auditCounts
    // — the filter-rate monitoring row a 100 TB run dashboards), gated
    // against the same composed replay aggregated to one row.
    "pipeline_curation_audit" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("source") === "src0")
      graft.pipeline.Curation.auditCounts(
        graft.pipeline.Curation.curate(docs, bench,
          family = Dedup.md5AffineFamily))
    },

    // The V2 composed pipeline (r8): the flagship plus this round's
    // curation operators — Gopher repetition rules, learned langid
    // agreement, exact-substring repair accounting — every stage
    // TAGGING, the whole composition hash-exact against one DuckDB
    // replay that shares each stage's CTE chain with its standalone
    // oracle (cannot drift).
    "pipeline_curation_v2" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("source") === "src0")
      graft.pipeline.Curation.curateV2(docs, bench,
          family = Dedup.md5AffineFamily)
        .select(col("doc_id"), col("passed_quality"), col("is_exact_dup"),
          col("is_near_dup"), col("is_contaminated"), col("split"),
          col("split_moved"), col("passed_repetition"), col("lang_pred"),
          col("lang_agrees"), col("n_span_tokens_removed"))
        .orderBy(col("doc_id"))
    },

    // V2 drop accounting: auditCountsV2 with the three new counters.
    "pipeline_curation_v2_audit" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("source") === "src0")
      graft.pipeline.Curation.auditCountsV2(
        graft.pipeline.Curation.curateV2(docs, bench,
          family = Dedup.md5AffineFamily))
    },

    // Paragraph/unit-level dedup with document reassembly: drop every
    // repeated 10-token chunk (global first occurrence wins, by (doc,
    // position)) and rebuild each document from its surviving chunks —
    // the paragraph-dedup shape of crawl pipelines, over token chunks
    // because the fixture corpus has no paragraph breaks.
    "dedup_paragraphs" -> { (s, dir) =>
      Dedup.unitDedup(Tables.documents(s, dir), "text", "doc_id",
        t => Dedup.tokenChunks(t, 10))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // C4-style line-level cleaning (Raffel et al. 2020 §2.2): cut
    // failing lines, reassemble the rest, drop pages on the page rules
    // with the reason recorded. The fixture corpus has no sentence
    // punctuation, so lines are 8-token chunks and the rules are the
    // re-parameterized set (minWords=5 cuts ragged tail chunks,
    // blockword 'dup' cuts real fixture lines, pages need 2 surviving
    // chunks); the published C4 preset itself is pinned in CleaningSpec.
    "docs_c4_clean" -> { (s, dir) =>
      graft.ops.Cleaning.lineClean(Tables.documents(s, dir), "text",
          "doc_id", t => Dedup.tokenChunks(t, 8), joiner = " ",
          rules = graft.ops.Cleaning.LineRules(minWords = 5,
            terminalPunct = None, lineBlockWords = Seq("dup"),
            minLinesKept = 2))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Exact-substring REMOVAL (r8), completing Lee et al. 2022: every
    // non-first occurrence of a duplicated 10-token span is cut and the
    // remainder reassembled — the repair dedup_spans only profiles.
    // First occurrence is global (id, pos) order; overlapping removals
    // union; sub-window docs pass through; fully-duplicated docs keep
    // an empty-string row.
    "dedup_span_removal" -> { (s, dir) =>
      Dedup.removeDuplicatedSpans(Tables.documents(s, dir), "text",
        "doc_id", 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // MinHash+LSH near-dup pairs verified by exact Jaccard. Runs with
    // the md5-prefix hash family so the ENTIRE pipeline — signatures,
    // banding, candidate join, verification — is replayed by the DuckDB
    // oracle; the xxhash64 default stays the production fast path
    // (recall vs exact pairs asserted in DedupSpec). The band join is
    // narrow and salted, so payloads stay out of the bucket exchange and
    // a hot bucket's pairs spread over block-pair tasks (SCALING.md
    // probe 15: 2.3× faster under the planted skew-2× clique, 3× at the
    // 100× corpus); salting never changes the pair set, so the oracle
    // replays the plain band join.
    "dedup_minhash_pairs" -> { (s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), "text", "doc_id",
        family = Dedup.md5AffineFamily)
        .orderBy(col("id_a"), col("id_b"))
    },

    // The PRODUCTION MinHash path: identical pipeline to
    // dedup_minhash_pairs but on the xxhash64 default family — declared
    // so the bench separates the operator's cost from the md5
    // oracle-replay cost (the round-4 md5-family time was mistaken for
    // an operator regression). Deliberately no SQL oracle — DuckDB has
    // no xxhash64, so the driver records the weaker rows-only check;
    // this exact path's pair recall vs exact Jaccard is asserted in
    // DedupSpec.
    "dedup_minhash_fast" -> { (s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), "text", "doc_id")
        .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash per document, on the md5-prefix hash family so the bit
    // votes are oracle-replayable (xxhash64 default = production path).
    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "text", "doc_id",
        Dedup.md5Hash60)
        .orderBy(col("id"))
    },

    // Brute-force cosine top-10 for a 5-query probe set — the exact ANN
    // baseline. Oracle uses the identical dot/sqrt formula.
    "knn_cosine_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // Corpus-side unsplittable-input spread (r14, guide §2.5): the
      // per-row cosine against the broadcast probe set is the whole
      // cost here, single-task otherwise. Queries side stays unspread
      // (5 rows on a broadcast).
      Knn.bruteForce(graft.util.Spread.spreadInput(emb, col("vec_id")),
        emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rk"))
    },

    // The same brute-force top-k without the corpus spread: the native
    // cosine_sim kernel on one scan task — must match the same oracle
    // bit for bit.
    "knn_cosine_topk_native" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Knn.bruteForce(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rk"))
    },

    // Filtered vector search — retrieval with a metadata predicate: the
    // attribute filter (documents lang/length) joins the embedding
    // corpus BEFORE scoring, so distances are computed only for
    // qualifying vectors — pre-filter ANN, never post-filter (which
    // under-fills k whenever the filter is selective). The filter side
    // is an id-only projection of the metadata table; AQE broadcasts it
    // when small.
    "knn_filtered_topk" -> { (s, dir) =>
      val keep = Tables.documents(s, dir)
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .select(col("doc_id").as("vec_id"))
      val emb = Tables.embeddings(s, dir)
      Knn.bruteForce(emb.join(keep, "vec_id"),
        emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rk"))
    },

    // Embedding-cosine near-dup pairs (exact all-pairs baseline).
    "dedup_embedding_pairs" -> { (s, dir) =>
      // Corpus-side spread (r15, guide §2.5, re-arbitrated cold-fork —
      // the r14 rejection was measured in a degraded session): the
      // exact-quadratic cosine loop streams the corpus side of a
      // broadcast nested-loop join, so an unsplittable scan ran all
      // |N|²/2 cosines in ONE task. No-op at scale.
      Knn.cosinePairs(
        graft.util.Spread.spreadInput(Tables.embeddings(s, dir),
          col("vec_id")),
        "vec_id", "embedding", 0.4)
        .orderBy(col("id_a"), col("id_b"))
    },

    // LSH-bucketed embedding near-dup pairs: the data-independent scale
    // path for the exact all-pairs baseline above — sign-random-
    // projection candidates, exact-cosine verify (precision 1.0, LSH
    // recall). Deterministic md5-derived hyperplanes, so the oracle
    // replays plane -> signature -> candidate -> verify end to end.
    // bits = 0 = the ADAPTIVE rule B = max(6, ceil(log2(n/32))) — the
    // registered plan IS the scale plan (r12, closing r11 verdict #1:
    // the previously-pinned bits=6 kept 2^6 buckets per table at every
    // N, so per-cell population grew ∝ N and the gate aborted at
    // embskew 30× with 79 GB of spill while the adaptive library path
    // stayed candidate-proportional). The DuckDB oracle derives the
    // SAME B from count(*) in a scalar-subquery CTE, so determinism is
    // preserved without freezing the geometry; at every gate scale
    // (sf0.001/0.01/0.1 = 20/200/2000 vectors) the rule yields exactly
    // 6, so the result set is unchanged from the pinned-bits rounds.
    // The bucket join is narrow and salted, as in dedup_minhash_pairs:
    // vectors re-attach only for candidate pairs and hot cells split
    // into block-pair tasks (SCALING.md probe 15: 3× faster at the 100×
    // corpus).
    // tables = 0 = the AUTO-T rule T = max(24, tablesFor(0.9, B, 0.95))
    // (Knn.autoTables, r14 — closing r13 verdict #2: the fixed T=24
    // under-recalled the 0.95/cosine-0.9 design point past B=13 ≈ 262k
    // vectors; tablesFor(0.9,14,0.95)=25 is KnnSpec-pinned). The DuckDB
    // oracle derives the SAME T from the shared count(*) CTE (nt), so
    // the oracle follows the width-scaled budget end to end — exactly
    // the autoProbes pattern; 24 at every gate scale, so results are
    // unchanged. Receipt at B=14 on clustered data: probe 20f.
    "dedup_embedding_lsh" -> { (s, dir) =>
      // NO corpus spread (r15 cold-fork arbitration, min-over-3
      // interleaved: 2.33 s unspread vs 2.77 s spread — the bucket
      // self-join exchange dominates and the extra spread exchange is
      // pure cost; confirms the r14 measured-and-rejected call).
      graft.dedup.Dedup.embeddingLshPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.4, dims = 64, bits = 0,
        tables = 0)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Incremental embedding ingestion vs a persisted LSH bucket index —
    // the vector-space analogue of dedup_minhash_incremental: O(batch)
    // per day, corpus never rescanned, index never retrained (the
    // planes are data-independent). Every-4th vec_id plays the day's
    // batch; the rest are the indexed corpus.
    "dedup_embedding_incremental" -> { (s, dir) =>
      import s.implicits._
      // NO corpus spread (r15 cold-fork arbitration: 1.85 s unspread
      // vs 2.57 s spread min-over-3 — the index distinct + batch join
      // exchanges dominate; same verdict as dedup_embedding_lsh).
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(pmod($"vec_id", lit(4L)) =!= 0L)
      val batch = emb.filter(pmod($"vec_id", lit(4L)) === 0L)
      graft.dedup.Dedup.incrementalEmbeddingDedup(batch,
          graft.dedup.Dedup.embeddingLshIndex(corpus, "vec_id",
            "embedding", dims = 64),
          "vec_id", "embedding", dims = 64)
        .select($"vec_id")
        .orderBy($"vec_id")
    },

    // Semantic dedup (SemDeDup): centroid-bucketed embedding-space
    // near-dup removal — pairwise cosine quadratic only within buckets,
    // keep-lowest-id survivors. Full assign→pair→drop pipeline replayed
    // by the oracle.
    "dedup_semantic" -> { (s, dir) =>
      Dedup.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        centroids = 16, threshold = 0.4)
        .orderBy(col("vid"))
    },

    // SemDeDup on the TRAINED path (the production/bench setting):
    // √N k-means centroids keep buckets balanced so the within-bucket
    // quadratic stays ~N^1.5 total. Oracle-exact (r8) via the
    // REPLAYABLE k-means tier: md5-52bit training sample, bit-exact
    // left-to-right l2 argmin (DuckDB list_reduce replays the native
    // fold), and decimal-sum centroid means rounded at 8 — every
    // Lloyd's iteration replays as one chained CTE layer, the
    // docs_quality_model recipe applied to clustering. The xxhash64 +
    // float-avg production path stays the library default, spec-pinned.
    "dedup_semantic_trained" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = math.max(16,
        math.ceil(math.sqrt(emb.count().toDouble)).toInt)
      Dedup.semanticDedupTrained(emb, "vec_id", "embedding",
        centroids = k, iterations = 3, threshold = 0.4,
        replayable = true)
        .orderBy(col("vid"))
    },

    // The PRODUCTION flavor of the trained SemDeDup (xxhash64 sample,
    // float means — Knn.kmeans(replayable = false)) — declared WITHOUT
    // an oracle, the dedup_minhash_fast convention: DuckDB cannot
    // replay the xxhash64 family, so the gate records rows-only while
    // the ORACLE-exact replayable flavor above stays the correctness
    // pin. Registered (r9) so the ~1s-at-sf0.1 audit-tier premium the
    // replayable flavor pays stays VISIBLE in every bench artifact
    // next to the cost a 100 TB run would actually pay.
    "dedup_semantic_trained_fast" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val k = math.max(16,
        math.ceil(math.sqrt(emb.count().toDouble)).toInt)
      Dedup.semanticDedupTrained(emb, "vec_id", "embedding",
        centroids = k, iterations = 3, threshold = 0.4,
        replayable = false)
        .orderBy(col("vid"))
    },

    // Training-sequence packing: docs laid end-to-end in doc_id order,
    // cut every 512 tokens; one row per (doc, chunk) span. One window
    // shuffle, no join (the distributable prefix-sum formulation of
    // concat-then-chunk).
    "docs_pack_chunks" -> { (s, dir) =>
      graft.ops.Packing.packChunks(Tables.documents(s, dir), "doc_id",
        "text", chunkTokens = 512)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // Shard manifest over the packed sequences: deterministic hash
    // placement into 8 shards plus per-shard counts and an
    // order-invariant mod-2^52 checksum — the export audit a training
    // job verifies before reading a shard. A projection and an 8-key
    // groupBy on top of the pack; no sequence ever shuffles.
    "docs_shard_manifest" -> { (s, dir) =>
      graft.ops.Packing.shardManifest(
        graft.ops.Packing.packChunks(Tables.documents(s, dir), "doc_id",
          "text", chunkTokens = 512),
        Seq("doc_id", "chunk_id"), "n_toks", shards = 8, salt = "shard-v1")
        .orderBy(col("shard_id"))
    },

    // Substring-level duplication profile (token-granular exact-substring
    // dedup signal): per doc, total 10-token spans and spans occurring
    // more than once corpus-wide. One fingerprint shuffle + one doc
    // aggregate; exact integers end to end.
    "dedup_span_stats" -> { (s, dir) =>
      Dedup.duplicatedSpans(Tables.documents(s, dir), "text", "doc_id",
        windowTokens = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Overlapping RAG-style chunking: 64-token chunks every 48 tokens
    // (16-token overlap); pure projection + explode, no shuffle.
    "docs_overlap_chunks" -> { (s, dir) =>
      graft.ops.Packing.slidingChunks(Tables.documents(s, dir), "doc_id",
        "text", chunkTokens = 64, strideTokens = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Exactly-3-per-source weighted sample (Efraimidis–Spirakis A-Res):
    // rank u^(1/n_chars) rounded at 6 decimals, k largest win, key
    // tiebreak — inclusion ∝ length, without replacement, one pass on
    // the native TopK heaps.
    "docs_weighted_k" -> { (s, dir) =>
      graft.ops.Sampling.weightedK(Tables.documents(s, dir), col("source"),
        col("n_chars").cast("double"), col("doc_id"), k = 3, salt = "wk-v1")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Deterministic contrastive negatives: 2 uniform non-self draws per
    // anchor, pure (id, draw, salt) hash arithmetic over a dense global
    // index — epochs re-salt, engines replay the exact pairs.
    "docs_negatives_k" -> { (s, dir) =>
      graft.ops.Sampling.negativesK(Tables.documents(s, dir), "doc_id",
        k = 2, salt = "neg-v1")
        .orderBy(col("anchor_id"), col("j"))
    },

    // Length-proportional importance sampling: keep probability
    // min(1, n_chars/2000) per row — the continuous per-row form of the
    // per-group mixture. Membership is pure (key, salt) hash arithmetic.
    "docs_length_weighted" -> { (s, dir) =>
      graft.ops.Sampling.weightedSample(Tables.documents(s, dir),
        least(lit(1.0), col("n_chars") / lit(2000.0)), col("doc_id"),
        salt = "lenw-v1")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // IVF approximate top-10 (deterministic smallest-id centroids, so the
    // full assign→probe→search pipeline is oracle-checked; recall vs
    // brute force asserted in KnnSpec).
    "knn_ivf_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // Corpus-side spread (r14, guide §2.5 — the knn_cosine_topk note).
      Knn.ivf(graft.util.Spread.spreadInput(emb, col("vec_id")),
        emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, centroids = 16, nprobe = 4)
        .orderBy(col("query_id"), col("rk"))
    },

    // LSH-bucketed approximate top-10 (sign-random-projection: 24 tables
    // x adaptive-width signatures from md5-derived hyperplanes —
    // data-independent bucketing, the streaming-ingest-friendly ANN
    // scale path). bits auto-size with count(*) (B = max(6,
    // ceil(log2(n/32))), r12 — same rule and oracle derivation as
    // dedup_embedding_lsh, so the registered plan is the one that
    // holds per-query cost flat as the corpus grows; 6 at gate scale).
    // The full plane-generation -> signature -> candidate-join ->
    // verify pipeline is oracle-replayed; recall vs brute force
    // asserted in KnnSpec. This row is deliberately the SINGLE-PROBE
    // baseline: it keeps the uncompensated geometry's recall visible
    // next to the width-scaled-budget flavor below, which is the
    // production search plan at large B (probe 20e: 0.11 vs 0.50
    // recall@10 at B=13, same wall). probes = 0 is now EXPLICIT (r14):
    // lshCosine's public default flipped to -1 (autoProbes — the
    // production geometry), so the contrast row names its own choice.
    "knn_lsh_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // Corpus-side spread (r14, guide §2.5 — the knn_cosine_topk note).
      Knn.lshCosine(graft.util.Spread.spreadInput(emb, col("vec_id")),
        emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, dims = 64,
        probes = 0)
        .orderBy(col("query_id"), col("rk"))
    },

    // Multi-probe LSH (r9): each query additionally visits its
    // least-|margin| Hamming-1 neighbor buckets per table — the recall
    // lift at fixed table count. The probe sequence (margin ranking +
    // XOR fan-out) is itself oracle-replayed; the recall lift over the
    // single-probe row is visible in knn_recall_at_k and floor-pinned
    // in KnnSpec. probes = -1 = the WIDTH-SCALED budget (Knn.autoProbes
    // = B-4, r13 — probe 20e: a fixed 2-probe budget left recall at
    // 0.28 at the B=13 operating point the adaptive width produces,
    // while B-4 probes measured 0.50 at ~no wall cost; 2 at every gate
    // corpus, where B=6, so gate results are unchanged). The DuckDB
    // oracle derives the same budget as nbits-4 from the shared nb CTE.
    "knn_lsh_mp_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // Corpus-side spread (r14, guide §2.5 — the knn_cosine_topk note).
      Knn.lshCosine(graft.util.Spread.spreadInput(emb, col("vec_id")),
        emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, dims = 64,
        probes = -1)
        .orderBy(col("query_id"), col("rk"))
    },

    // Product-quantization ANN: corpus stored as 16 sub-codes (16x
    // smaller than raw vectors), queries exact, asymmetric-distance
    // scoring against code reconstructions. Deterministic smallest-id
    // codebooks, so the full book->code->ADC pipeline is oracle-replayed;
    // recall vs exact dot asserted in KnnSpec.
    "knn_pq_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Knn.pqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, m = 16, codebook = 16, dims = 64)
        .orderBy(col("query_id"), col("rk"))
    },

    // IVF+PQ composed (the FAISS-IVFPQ billion-vector architecture):
    // IVF buckets prune WHICH vectors score, PQ codes prune WHAT is
    // read — one corpus pass emits (bucket, codes) and drops the raw
    // vector. Oracle replays bucket choice, code choice, and ADC
    // scoring end to end.
    "knn_ivfpq_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // Corpus-side spread (r14, guide §2.5 — the knn_cosine_topk note).
      Knn.ivfPq(graft.util.Spread.spreadInput(emb, col("vec_id")),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, centroids = 16, nprobe = 4, m = 16, codebook = 16,
        dims = 64)
        .orderBy(col("query_id"), col("rk"))
    },

    // IVF+PQ with the EXACT RE-RANK leg (FAISS IndexRefineFlat — r14,
    // probe 23b): ADC scores select the top-50 candidates per query,
    // whose raw vectors are fetched — in this plan a SECOND scan of the
    // raw-vector table filtered by a broadcast of the candidate ids (no
    // shuffle; on an id-keyed store the same shape is |Q|·50 point
    // lookups) — and re-ranked by exact cosine. Probe 23b measured
    // why: 4-bit-per-subspace codes preserve CANDIDACY, not rank —
    // recall@10 0.03–0.13 raw vs 0.40–1.0 for the same pruning on exact
    // vectors — so the production composition is codes in the scan
    // path, raw vectors only for |Q|·refine point lookups. The oracle
    // replays ADC candidate selection AND the exact re-rank end to end.
    "knn_ivfpq_refined_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // Corpus-side spread (r14, guide §2.5 — the knn_cosine_topk note).
      Knn.ivfPq(graft.util.Spread.spreadInput(emb, col("vec_id")),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, centroids = 16, nprobe = 4, m = 16, codebook = 16,
        dims = 64, refine = 50)
        .orderBy(col("query_id"), col("rk"))
    },

    // Benchmark decontamination signal: fraction of each corpus doc's
    // 3-gram shingles that appear anywhere in the eval set (source
    // 'src0' stands in as the benchmark). Only contaminated docs listed.
    "docs_contamination" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Dedup.contaminationRatio(
        docs.filter($"source" =!= "src0"),
        docs.filter($"source" === "src0"),
        "text", "doc_id", 3)
        .filter($"n_hit" > 0)
        .orderBy($"id")
    },

    // Quantized ANN: int8 scalar-quantized codes, ranked by the dot of
    // score-time reconstructions — the memory-bandwidth scale path
    // (4x smaller stored vectors).
    "knn_quantized_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Knn.bruteForceQuantized(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rk"))
    },

    // ANN recall evaluation harness: recall@10 of every approximate
    // index path (IVF, LSH, PQ, int8 SQ, IVF+PQ) against the exact
    // brute-force neighbors, per query — the "measure, don't guess"
    // leg of index selection (FAISS-bench shape). The ANN pipelines are
    // the cost; the recall join runs on |queries|·k rows. Every path is
    // the oracle-replayable configuration, so the oracle recomputes the
    // SAME indexes and the recall numbers must agree exactly.
    "knn_recall_at_k" -> { (s, dir) =>
      // Pin the (spread) corpus ONCE for the exact leg plus all seven
      // ANN pipelines (r15, VERDICT r14 #3): unpinned, the r14 plan
      // held 52 parquet scans of the embedding table and 13 separate
      // spread exchanges with ZERO ReusedExchange — every leg (and
      // every branch inside a leg: centroids, codebooks, encode,
      // refine fetch) replayed the corpus subtree. The eager DISK_ONLY
      // localCheckpoint (corpus-sized-pin convention, probe 16b) runs
      // the scan + spread once; legs re-read the materialization. At
      // 100 TB that is ~50 corpus passes collapsed to one. The probe
      // set and the LSH width count read the pin too.
      val emb = graft.util.Spread
        .spreadInput(Tables.embeddings(s, dir), col("vec_id"))
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val qs = emb.filter(col("vec_id") < 5)
      def ids(df: DataFrame, m: String) =
        df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
      // Resolve the adaptive signature width ONCE for both LSH legs —
      // bits = 0 would run the corpus count() action inside each call.
      val lshBits = Knn.autoBits(emb.count())
      val exact = Knn.bruteForce(emb, qs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val methods =
        ids(Knn.ivf(emb, qs, "vec_id", "embedding", k = 10,
          centroids = 16, nprobe = 4), "ivf")
        .union(ids(Knn.lshCosine(emb, qs, "vec_id", "embedding", k = 10,
          dims = 64, bits = lshBits, probes = 0), "lsh"))
        .union(ids(Knn.lshCosine(emb, qs, "vec_id", "embedding", k = 10,
          dims = 64, bits = lshBits, probes = Knn.autoProbes(lshBits)),
          "lsh_mp"))
        .union(ids(Knn.pqTopK(emb, qs, "vec_id", "embedding", k = 10,
          m = 16, codebook = 16, dims = 64), "pq"))
        .union(ids(Knn.bruteForceQuantized(emb, qs, "vec_id", "embedding",
          10), "sq"))
        .union(ids(Knn.ivfPq(emb, qs, "vec_id", "embedding", k = 10,
          centroids = 16, nprobe = 4, m = 16, codebook = 16, dims = 64),
          "ivfpq"))
      val grid = methods.select("method").distinct()
      // Every (method, exact-neighbor) cell exists via the broadcast
      // method grid, so a zero-overlap query reports recall 0.0 instead
      // of silently vanishing.
      exact.crossJoin(broadcast(grid))
        .join(methods.withColumn("__hit", lit(1)),
          Seq("method", "query_id", "neighbor_id"), "left_outer")
        .groupBy(col("method"), col("query_id"))
        .agg((count(col("__hit")).cast("double") / lit(10.0)).as("recall"))
        .orderBy(col("method"), col("query_id"))
    },

    // Deterministic train/val/test split by key hash: reproducible on
    // any engine/run/partitioning, never materialized.
    "docs_hash_split" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
        .select($"doc_id", $"source",
          graft.ops.Sampling.splitColumn($"doc_id", "split-v1",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    },

    // Entity resolution: edit-distance ≤ 1 join of typo'd names (3rd
    // char dropped) against the clean vocabulary — q-gram blocked, never
    // a cartesian; the verify is exact levenshtein in both engines.
    "fuzzy_name_match" -> { (s, dir) =>
      import s.implicits._
      val clean = Tables.nation(s, dir).select($"n_name")
      val dirty = Tables.nation(s, dir).select(
        concat(substring($"n_name", 1, 2), substring($"n_name", 4, 1000))
          .as("dirty_name"))
      graft.ops.FuzzyJoin.editDistancePairs(
        dirty, "dirty_name", clean, "n_name", maxDist = 1)
        .orderBy($"left_value", $"right_value")
    },

    // Incremental rollup maintenance: two disjoint batches aggregated
    // independently, merged with one grouped sum — must equal the
    // full-history aggregate (the oracle computes exactly that). The
    // O(batch) daily-fold form of a warehouse rollup.
    "inc_rollup_merge" -> { (s, dir) =>
      import s.implicits._
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum($"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .as("total"))
      val orders = Tables.orders(s, dir)
      // The partial sums and the merge are exact decimal arithmetic; the
      // OUTPUT is cast to double (repo-wide oracle convention) so the
      // driver's comparator sees one numeric rendering on both sides —
      // parquet decimal(38,4) vs DuckDB decimal stringify differently.
      graft.ops.IncrementalAgg.mergeSums(
        rollup(orders.filter($"o_orderkey" % 3 =!= 0)),
        rollup(orders.filter($"o_orderkey" % 3 === 0)),
        Seq("o_orderstatus", "o_orderpriority"))
        .withColumn("total", $"total".cast(org.apache.spark.sql.types.DoubleType))
        .orderBy($"o_orderstatus", $"o_orderpriority")
    },

    // Top principal direction of the embedding corpus by 3 power
    // iterations (v0 = 1, unit max-norm, decimal matvec sums rounded at
    // 10 decimals per iteration — engine/partitioning-invariant, so the
    // oracle replays every iteration bit-for-bit). The anisotropy/drift
    // statistic of a vector corpus.
    "emb_principal_direction" -> { (s, dir) =>
      import s.implicits._
      graft.functions.Embeddings.dominantDirection(
        Tables.embeddings(s, dir), "embedding", dims = 64)
        .orderBy($"dim_idx")
    },

    // Deterministic global shuffle (training order): contiguous
    // positions assigned by the range-partitioned (hash, key) sort —
    // replayable as a row_number over the same order in any engine.
    "docs_shuffle" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Sampling.shuffled(
        Tables.documents(s, dir).select($"doc_id", $"source"),
        $"doc_id", "epoch-0")
        .orderBy($"doc_id")
    },

    // One-pass ANALYZE profile of the documents table: per-column
    // nonnull/distinct counts and native-ordering min/max.
    "docs_column_stats" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Profiling.columnStats(Tables.documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy($"col_name")
    },

    // Token-budget mixture planner: water-fill a 26k-token budget across
    // sources at temperature alpha=0.5 with per-source capacity caps —
    // the per-source manifest computed BEFORE sampling. One aggregate,
    // |sources|-bounded driver solve, exact integer shares after the
    // single rounded pow; the oracle replays all 8 capping rounds as
    // chained CTEs.
    "docs_budget_plan" -> { (s, dir) =>
      graft.ops.Sampling.budgetPlan(
        Tables.documents(s, dir).filter(col("text").isNotNull),
        col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")),
        budget = 26000L, alpha = 0.5)
        .withColumnRenamed("group", "source")
        .orderBy(col("source"))
    },

    // Temperature rebalance at alpha=0.5: every source downsampled to
    // sqrt(n_min·n_g) expected rows — the multi-source mixing step of
    // corpus assembly, deterministic by key hash.
    "docs_temperature_mix" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Sampling.temperatureMixture(Tables.documents(s, dir),
        $"source", $"doc_id", alpha = 0.5, salt = "temp-v1")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    // Mixture reweighting: per-source keep fractions (downsample two
    // crawl sources, keep the rest whole) — deterministic by key hash.
    "docs_mixture_sample" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Sampling.mixture(Tables.documents(s, dir), $"source",
        $"doc_id", Map("src0" -> 0.25, "src1" -> 0.5),
        defaultWeight = 1.0, salt = "mix-v1")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    // Interval join via the binned equi-join (never a nested loop):
    // parts histogrammed into price bands [k*250, (k+1)*250).
    "q_range_join" -> { (s, dir) =>
      import s.implicits._
      val bands = s.range(0, 10)
        .select($"id".as("band_id"), ($"id" * lit(250.0)).as("lo"),
          (($"id" + 1) * lit(250.0)).as("hi"))
      graft.ops.RangeJoin.binned(
        Tables.part(s, dir).select($"p_partkey", $"p_retailprice"),
        $"p_retailprice", bands, $"lo", $"hi", binWidth = 250.0)
        .groupBy($"band_id")
        .agg(count(lit(1)).as("n_parts"),
          Parity.roundedDouble(
            sum($"p_retailprice".cast(org.apache.spark.sql.types.DecimalType(18, 4))))
            .as("total_price"))
        .orderBy($"band_id")
    },

    // Salt-scatter skew join (the explicit hot-key mitigation for joins
    // AQE cannot split: one key holding >10% of the fact table against a
    // non-broadcastable side). The salt is pure mechanics — results are
    // EXACTLY the plain inner join, which is what the oracle replays.
    "q_salted_join" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .select($"l_suppkey".as("suppkey"), $"l_extendedprice")
      val supp = Tables.supplier(s, dir)
        .select($"s_suppkey".as("suppkey"), $"s_nationkey")
      graft.ops.ScaleOps.saltedJoin(li, supp, "suppkey", 8)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          Parity.dsum($"l_extendedprice").as("revenue"))
        .orderBy($"s_nationkey")
    },

    // Runtime Bloom-filter semi join: a broadcast Bloom filter prunes
    // the fact side BEFORE its shuffle (pure projection); the trailing
    // exact semi join removes false positives, and Bloom filters have
    // no false negatives — so the oracle is the plain semi join.
    "q_bloom_semijoin" -> { (s, dir) =>
      import s.implicits._
      // Probe-side spread (r15, guide §2.5 — the Sketches md5 shape):
      // the Bloom membership probe digests every fact row (md5 +
      // numHashes slot derivations) below the first exchange,
      // single-task on a one-row-group scan. No-op at scale.
      val li = graft.util.Spread.spreadInput(Tables.lineitem(s, dir)
        .select($"l_suppkey", $"l_quantity", $"l_returnflag"),
        $"l_suppkey")
      val smallSupp = Tables.supplier(s, dir)
        .filter($"s_nationkey" < 5)
        .select($"s_suppkey".as("l_suppkey"))
      graft.ops.ScaleOps.bloomSemiJoin(li, smallSupp, "l_suppkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          Parity.dsum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag")
    },

    // Co-partitioned join + same-key aggregate chain: both sides land
    // on ONE hash partitioning so the join and the following groupBy
    // reuse a single exchange per side (the transient form of bucketed
    // tables; plan pinned in ScaleOpsSpec). Co-partitioning is pure
    // mechanics — the oracle replays the plain join + aggregate.
    "q_copartitioned_agg" -> { (s, dir) =>
      import s.implicits._
      val ord = Tables.orders(s, dir).select($"o_custkey", $"o_totalprice")
      val cust = Tables.customer(s, dir)
        .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
      val (a, b) = graft.ops.ScaleOps.coPartition(ord, cust, "o_custkey", 32)
      a.join(b, Seq("o_custkey"))
        .groupBy($"o_custkey")
        .agg(max($"c_mktsegment").as("segment"),
          count(lit(1)).as("n_orders"),
          Parity.dsum($"o_totalprice").as("spend"))
        .orderBy($"o_custkey")
    },

    // Equi-depth price histogram: 8 buckets of equal row count with
    // exact bounds — the skew-robust optimizer statistic, on the
    // scalable ntile (no single-partition window).
    "q_histogram_equidepth" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Profiling.equiDepthHistogram(
        Tables.lineitem(s, dir), $"l_extendedprice", 8)
        .orderBy($"bucket")
    },

    // Z-order (Morton) clustering key over two bucketed dimensions —
    // the multi-column file-skipping layout; the code is pure integer
    // bit arithmetic, so the oracle replays it exactly.
    "q_zorder_cluster" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_linenumber",
          ($"l_partkey" % 256).cast("int").as("px"),
          ($"l_suppkey" % 256).cast("int").as("sy"))
        .withColumn("zval", graft.ops.ZOrder.zValue(Seq($"px", $"sy"), 8))
        .orderBy($"zval", $"l_orderkey", $"l_linenumber")
    },

    // Multimodal: opaque binary payload + typed metadata.
    "multimodal_bytes" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(
        $"doc_id",
        length($"text".cast("binary")).as("n_bytes"),
        ascii(substring($"text", 1, 1)).as("head_byte"))
        .orderBy($"doc_id")
    },

    // Frame sampling over an opaque payload: every 3rd 32-byte frame
    // (stride 96) of each document's bytes, one output row per sampled
    // frame with its digest — the video→frames row-multiplying decode
    // shape as a pure declarative plan (sequence + explode + substr;
    // no UDF). MultimodalSpec pins the typed mapPartitions path
    // (MultimodalOps.extractFrames) to these exact frames.
    "multimodal_frames" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .filter($"text".isNotNull && length($"text") > 0)
        .select($"doc_id", $"text", length($"text").as("n"))
        .select($"doc_id", $"text",
          explode(sequence(lit(0),
            (($"n" + 95) / 96).cast("int") - 1)).as("frame_no"))
        .select($"doc_id", $"frame_no",
          md5($"text".substr($"frame_no" * 96 + 1, lit(32)).cast("binary"))
            .as("frame_md5"))
        .orderBy($"doc_id", $"frame_no")
    },

    // Windowed event aggregation (batch form of the streaming plans).
    "events_tumbling_hour" -> { (s, dir) =>
      EventsOps.tumbling(Tables.events(s, dir), "1 hour")
        .orderBy(col("window_start"), col("event_type"))
    },

    // Rolling z-score anomaly flags: each event judged against the mean
    // and sample stddev of its user's previous 20 values (strictly prior
    // frame — a spike never inflates its own baseline). One window
    // exchange; decimal frame sums keep the oracle replay exact.
    "events_anomaly" -> { (s, dir) =>
      EventsOps.rollingZScore(
        Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("value")),
        key = col("user_id"), order = Seq(col("ts"), col("event_id")),
        valueCol = col("value"))
        .select(col("event_id"), col("user_id"), col("value"), col("z"),
          col("anomaly"))
        .orderBy(col("event_id"))
    },

    // Conversion funnel: per-user FIRST timestamps of each stage in one
    // conditional-min aggregate (no joins, no windows — two shuffles
    // total, the second on a single row), then strictly-ordered stage
    // counts: view -> click-after-view -> purchase-after-that-click.
    "events_funnel" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "view", $"ts")).as("v"),
          min(when($"event_type" === "click", $"ts")).as("c"),
          min(when($"event_type" === "purchase", $"ts")).as("p"))
        .agg(count($"v").as("n_view"),
          count(when($"c" > $"v", lit(1))).as("n_view_click"),
          count(when($"c" > $"v" && $"p" > $"c", lit(1)))
            .as("n_view_click_purchase"))
    },

    // Cohort retention: users grouped by first-seen day, distinct active
    // users per (cohort, day offset). The per-user first-day table is
    // |users| rows — broadcastable against the event stream when small,
    // an AQE-planned shuffle join above that; the corpus aggregates once.
    "events_retention" -> { (s, dir) =>
      import s.implicits._
      val e = Tables.events(s, dir)
        .select($"user_id", to_date($"ts").as("d"))
      val cohorts = e.groupBy($"user_id").agg(min($"d").as("cohort"))
      e.join(cohorts, Seq("user_id"))
        .groupBy($"cohort", datediff($"d", $"cohort").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort", $"day_offset")
    },

    // Half-life-decayed per-user activity score (feature-store recency
    // counter), 24h half-life, anchored at the corpus horizon so the
    // score is a pure function of the data. One broadcast row + one
    // partial-aggregable groupBy — plain-grouped-sum cost.
    "events_decayed_sum" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Decay.decayedSum(Tables.events(s, dir), "user_id", "ts",
        "value", halfLifeHours = 24.0)
        .orderBy($"user_id")
    },

    // Markov transition counts over each user's event sequence — the
    // path-analysis shape of product analytics ("what follows a view?").
    // One lag window exchange on the high-cardinality user_id, then a
    // tiny (|types|²) aggregate; event_id breaks timestamp ties so the
    // sequence (and thus the count matrix) is fully deterministic.
    "events_transitions" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull)
        .select($"prev_type", $"event_type".as("cur_type"))
        .groupBy($"prev_type", $"cur_type")
        .agg(count(lit(1)).as("n_transitions"))
        .orderBy($"prev_type", $"cur_type")
    },

    // Token-count histogram per source: integer bit-length buckets
    // (length of the base-2 string — exact integer arithmetic, never a
    // floating log2 whose floor can differ by 1 ulp across engines).
    "docs_token_histogram" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .filter($"text".isNotNull)
        .select($"source",
          TextFunctions.tokenCount($"text").cast("long").as("__nt"))
        .groupBy($"source", length(bin($"__nt")).as("bucket_bits"))
        .agg(count(lit(1)).as("n_docs"),
          min($"__nt").as("min_tokens"), max($"__nt").as("max_tokens"))
        .orderBy($"source", $"bucket_bits")
    },

    // Gap-filled hourly series: every (hour, event_type) cell between the
    // corpus bounds, zeros where no events landed (densification before
    // rate/anomaly math — a bare groupBy silently skips empty buckets).
    "events_gapfill" -> { (s, dir) =>
      EventsOps.gapFillHourly(Tables.events(s, dir))
        .orderBy(col("hour"), col("event_type"))
    },

    "events_sliding" -> { (s, dir) =>
      EventsOps.sliding(Tables.events(s, dir), "1 hour", "30 minutes")
        .orderBy(col("window_start"), col("event_type"))
    },

    "events_session" -> { (s, dir) =>
      EventsOps.sessions(Tables.events(s, dir), "10 minutes")
        .orderBy(col("user_id"), col("session_start"))
    },

    // First/last-touch attribution: every purchase credited to the
    // user's first and last preceding click/view/signup. One window
    // exchange on the user; conversion values as exact decimal sums.
    "events_attribution" -> { (s, dir) =>
      graft.ops.Attribution.touchAttribution(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type", "value",
        conversionType = "purchase",
        touchTypes = Seq("click", "view", "signup"))
        .orderBy(col("channel"))
    },

    // Distribution-drift monitor (PSI): the purchase-value distribution
    // of the month's first half vs its second, 10 equi-width bins with
    // Laplace smoothing — exact bin counts, one rounded term per bin.
    "events_drift_psi" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).filter($"event_type" === "purchase")
      graft.ops.Profiling.psiBins(
        ev.filter($"ts" < lit("2024-01-16")),
        ev.filter($"ts" >= lit("2024-01-16")),
        $"value", lo = 0.0, hi = 500.0, bins = 10)
        .orderBy($"bin")
    },

    // As-of join: each purchase enriched with the user's most recent view
    // at or before it (union-merge implementation, one shuffle).
    "events_asof_join" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id", $"value", $"event_type")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"ts", $"user_id", $"value")
      val views = ev.filter($"event_type" === "view")
      graft.ops.AsOfJoin.asOf(purchases, views, "user_id", "ts",
        "event_id", "event_id",
        Map("event_id" -> "last_view_event", "value" -> "last_view_value"))
        .orderBy($"event_id")
    },

    // Forward as-of with tolerance: each view enriched with the NEXT
    // purchase within 30 minutes (conversion attribution shape).
    "events_asof_forward" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id", $"value", $"event_type")
      val views = ev.filter($"event_type" === "view")
        .select($"event_id", $"ts", $"user_id")
      val purchases = ev.filter($"event_type" === "purchase")
      graft.ops.AsOfJoin.asOf(views, purchases, "user_id", "ts",
        "event_id", "event_id",
        Map("event_id" -> "next_purchase_event", "value" -> "next_purchase_value"),
        direction = "forward", tolerance = Some("30 minutes"))
        .orderBy($"event_id")
    },

    // Exactly-k per-stratum deterministic sample (5 docs per source by
    // smallest key hash) — fixed-size complement of the Bernoulli
    // sampler, on the TopKPerKey bounded-heap operator.
    "docs_stratified_k" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Sampling.stratifiedK(
          Tables.documents(s, dir).select($"doc_id", $"source"),
          $"source", $"doc_id", 5, "strat")
        .orderBy($"source", $"doc_id")
    },

    // Incremental ingestion dedup: the non-src0 batch deduped internally
    // then anti-joined against src0's persisted fingerprint index —
    // the O(batch) daily form of exact dedup.
    "dedup_incremental" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter($"source" === "src0")
      val batch = docs.filter($"source" =!= "src0")
      Dedup.incrementalDedup(batch,
          Dedup.fingerprintIndex(corpus, "text"), "text", "doc_id")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    // Incremental NEAR-dup ingestion: the non-src0 batch deduped against
    // src0's persisted MinHash band-bucket index — the LSH upgrade of
    // dedup_incremental (O(batch) daily near-dup, corpus never
    // rescanned). md5-affine family so the oracle replays every bucket.
    "dedup_minhash_incremental" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter($"source" === "src0")
      val batch = docs.filter($"source" =!= "src0")
      Dedup.incrementalMinhashDedup(batch,
          Dedup.minhashBandIndex(corpus, "text", "doc_id",
            family = Dedup.md5AffineFamily),
          "text", "doc_id", family = Dedup.md5AffineFamily)
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    // The streaming-ingest leg under the bench/oracle watch: four
    // deterministic "daily" batches (doc_id mod 4, in order) through the
    // foreachBatch body's APPEND form (r7) — incremental dedup against
    // the persisted fingerprint index, then each batch's survivors land
    // as that batch's own partition (replay-safe overwrite of itself;
    // valid because deduped survivors are pure inserts). The bench
    // number tracks the warehouse-scale path: O(batch) writes, ZERO
    // table rewrite. The full-rewrite ingestBatch stays the correctness
    // twin for re-keyed update sources; StreamingIngestSpec pins the two
    // equal row-for-row. The oracle replays the first-batch-wins-then-
    // min-id rule as one window; equality pins batch ≡ stream semantics.
    "stream_ingest_batches" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_stream_wh").toString
      (0L until 4L).foreach { b =>
        graft.streaming.StreamingIngest.ingestBatchAppend(
          docs.filter(pmod($"doc_id", lit(4L)) === b),
          wh, "docs_stream", "text", "doc_id", batchId = b)
      }
      materializedThen(s, s.read.parquet(s"$wh/docs_stream")
        .select($"doc_id", $"source")
        .orderBy($"doc_id"))(deleteTree(wh))
    },

    // The NEAR-dup streaming-ingest leg (r8): the same four
    // deterministic batches through ingestBatchNearDup — incremental
    // MinHash+LSH dedup against the persisted (band, bh) bucket-key
    // index, O(batch) appends, zero table rewrite. md5-affine family so
    // the DuckDB oracle replays the full four-batch chain: per batch,
    // drop on an index hit (bucket keys of EARLIER batches' survivors)
    // or a smaller-id same-batch bucket partner, then fold the batch's
    // surviving buckets into the index — sequential state as chained
    // CTEs, the docs_quality_model recipe applied to ingest.
    "stream_neardup_batches" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_stream_ndp").toString
      (0L until 4L).foreach { b =>
        graft.streaming.StreamingIngest.ingestBatchNearDup(
          docs.filter(pmod($"doc_id", lit(4L)) === b),
          wh, "docs_ndp", "text", "doc_id", batchId = b,
          family = Dedup.md5AffineFamily)
      }
      materializedThen(s, s.read.parquet(s"$wh/docs_ndp")
        .select($"doc_id", $"source")
        .orderBy($"doc_id"))(deleteTree(wh))
    },

    // The EMBEDDING near-dup streaming-ingest leg (r8): four
    // deterministic batches (vec_id mod 4) through ingestBatchEmbDup —
    // sign-random-projection LSH (ingest-tuned T=8/B=12, md5-derived
    // planes so DuckDB replays the geometry) against the persisted
    // (t, bucket) signature-key index; O(batch) appends, the corpus
    // never rescanned, the index never rebuilt (planes are
    // data-independent). Oracle: the four-batch chain as chained CTEs.
    "stream_embdup_batches" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_stream_emb").toString
      (0L until 4L).foreach { b =>
        graft.streaming.StreamingIngest.ingestBatchEmbDup(
          emb.filter(pmod($"vec_id", lit(4L)) === b),
          wh, "emb_stream", "embedding", "vec_id", batchId = b, dims = 64)
      }
      materializedThen(s, s.read.parquet(s"$wh/emb_stream")
        .select($"vec_id")
        .orderBy($"vec_id"))(deleteTree(wh))
    },

    // The rolling z-score STREAMING leg under the bench/oracle watch
    // (r7): the events table replayed through the real Structured
    // Streaming machinery — file source → flatMapGroupsWithState (state
    // = each user's last-20 value deque in the state store) → FILE
    // sink, Trigger.AvailableNow. Because batch ≡ stream is digit-for-
    // digit (zScoreOf reproduces the window plan's decimal arithmetic
    // exactly; RollingZScoreSpec), the STREAM's output shares the BATCH
    // query's DuckDB oracle — the strongest cross-form pin available.
    // File sink, not memory sink (r14, probe 24): this stream emits one
    // row per EVENT, so the memory sink held O(corpus) rows on the
    // driver (10M at the 100× sweep — the collected table then rode
    // every downstream task closure at ~20 MB/task and fed the sweep
    // JVM's OOM). The parquet sink keeps the output distributed — and
    // is the sink shape a production run would use anyway.
    "stream_anomaly" -> { (s, dir) =>
      import s.implicits._
      val src = eventsStream(s, dir)
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsMicros"),
          $"value")
        .as[graft.streaming.EventsOps.ZEvent]
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_zstream").toString
      val q = graft.streaming.EventsOps.rollingZScoreStream(src)
        .writeStream.format("parquet")
        .option("path", s"$outDir/out")
        .option("checkpointLocation", s"$outDir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      materializedThen(s, s.read.parquet(s"$outDir/out")
        .select($"event_id", $"user_id", $"value", $"z", $"anomaly")
        .orderBy($"event_id"))(deleteTree(outDir))
    },

    // Session windows through the real Structured Streaming machinery
    // (r9): file source → watermarked session_window aggregation in the
    // state store → memory sink, Trigger.AvailableNow — the one stateful
    // window family that was batch-gated only. Append mode emits a
    // session exactly when the watermark passes its end; a sentinel
    // event (reserved user -1, 30 days past the corpus horizon) advances
    // the final watermark past every REAL session so the state store
    // drains completely, while the sentinel's own session can never
    // close and is therefore never emitted — the streamed output is
    // exactly the real sessions, gated against the BATCH query's
    // gaps-and-islands oracle (batch ≡ stream law under the gate).
    "stream_session" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).select($"user_id", $"ts", $"value")
      val maxTs = ev.agg(max($"ts")).head.getTimestamp(0)
      val flushTs = new java.sql.Timestamp(maxTs.getTime + 30L * 86400 * 1000)
      val streamDir = java.nio.file.Files
        .createTempDirectory("graft_sess").toString
      ev.unionByName(s.range(1).select(lit(-1L).as("user_id"),
          lit(flushTs).as("ts"), lit(null).cast("double").as("value")))
        .write.mode("overwrite").parquet(streamDir)
      val src = s.readStream.schema(ev.schema).parquet(streamDir)
      // State store: the session-wide RocksDB default applies (r11,
      // SCALING.md probe 17 — the HDFS-backed provider held every open
      // session's state on-heap and OOM'd the 8 g contract heap at 10M
      // events; RocksDB completed in 42.9 s and was faster at every
      // sub-OOM point, so the per-query toggle this gate carried in r10
      // is gone: the provider policy lives in graft.Sessions).
      // File sink, not memory sink (r14, probe 24): closed sessions are
      // O(corpus/⟨events-per-session⟩) — ~1M rows at the 100× sweep —
      // and the memory sink held them all on the driver; the parquet
      // sink keeps the output distributed (the production sink shape).
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_sess_out").toString
      val q = graft.streaming.EventsOps
        .sessionsStream(src, "10 minutes", "10 seconds")
        .writeStream.format("parquet")
        .option("path", s"$outDir/out")
        .option("checkpointLocation", s"$outDir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      materializedThen(s, s.read.parquet(s"$outDir/out")
        .orderBy($"user_id", $"session_start")) {
        deleteTree(outDir)
        deleteTree(streamDir)
      }
    },

    // Streaming rollup maintenance under the bench/oracle watch (r7):
    // four deterministic "daily" batches (event_id mod 4) written as
    // replay-safe delta partitions (StreamingRollup.writeDelta — the
    // foreachBatch body), COMPACTED to one base delta, then read back
    // through the merge-law fold. Exact decimal partial sums make
    // delta-fold ≡ whole-history aggregate, so the oracle is the plain
    // grouped sum over all events.
    "stream_rollup_batches" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val rollupDir = java.nio.file.Files
        .createTempDirectory("graft_rollup").toString
      def batchAgg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .as("total_value"))
      val schema = batchAgg(ev.limit(0)).schema
      (0L until 4L).foreach { b =>
        graft.streaming.StreamingRollup.writeDelta(
          batchAgg(ev.filter(pmod($"event_id", lit(4L)) === b)),
          rollupDir, b)
      }
      graft.streaming.StreamingRollup.compact(s, rollupDir,
        Seq("user_id"), schema)
      materializedThen(s, graft.streaming.StreamingRollup.read(s, rollupDir,
          Seq("user_id"), schema)
        .withColumn("total_value", $"total_value".cast("double"))
        .orderBy($"user_id"))(deleteTree(rollupDir))
    },

    // The decayed-counter STREAMING leg under the bench watch (r7): the
    // events table through flatMapGroupsWithState's O(1)-per-key fold
    // state (Decay.decayedSumStream), Update mode, AvailableNow.
    // Oracle-exact (r8): the fold now sorts each key's batch by
    // (tsMicros, eventId) and rounds its one libm call (pow) at 8
    // decimals, so the result is a pure function of the data — DuckDB
    // replays the identical per-key chain with list_reduce over the
    // same sort. The weaker arrival-order law stays property-pinned
    // for out-of-order batches (DecaySpec/LawsProps).
    "stream_decay" -> { (s, dir) =>
      import s.implicits._
      // coalesce(value, 0.0): DecayEvent.value is primitive, and 0.0
      // reproduces the batch null policy exactly (contributes nothing,
      // counts as an event — Decay.decayedSumStream's documented
      // contract for null mapping).
      val src = eventsStream(s, dir)
        .select($"user_id".as("key"), unix_micros($"ts").as("tsMicros"),
          coalesce($"value", lit(0.0)).as("value"),
          $"event_id".as("eventId"))
        .as[graft.ops.Decay.DecayEvent]
      val name = "stream_decay_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.ops.Decay.decayedSumStream(src, halfLifeHours = 24.0)
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      materializedThen(s, s.table(name)
        .select($"key", $"n_events", $"decayed_sum", $"at_micros")
        .orderBy($"key"))(s.catalog.dropTempView(name))
    },

    // Interval (stream-stream) join: clicks attributed to same-user views
    // they follow within 10 minutes. Batch here for the oracle; the same
    // transform joins two watermarked streams (IntervalJoinStreamingSpec).
    "events_interval_join" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type")
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
      EventsOps.intervalJoin(views, clicks, "user_id",
          "view_ts", "click_ts", "10 minutes")
        .select($"user_id", $"view_id", $"click_id",
          (unix_micros($"click_ts") - unix_micros($"view_ts")).as("delay_us"))
        .orderBy($"view_id", $"click_id")
    },
  )

  /** The committed sf0.01 BPE merge table (the text_bpe_merges golden,
    * main classpath) — the FIXED configuration the text_bpe_segments
    * oracle replays. Reading the golden here keeps the oracle and the
    * GoldenOutputSpec pin a single source of truth. */
  private lazy val goldenBpeMerges: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/goldens/text_bpe_merges.sf0.01.tsv")
    require(in != null, "goldens/text_bpe_merges.sf0.01.tsv missing from classpath")
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        .drop(1).filter(_.nonEmpty)
        .map { l => val f = l.split("\t", -1); (f(1), f(2)) }
    } finally in.close()
  }

  /** The events table as a STREAMING frame. The file streaming source
    * requires a directory basePath, and the table may be either a single
    * file `events.parquet` (driver testdata) or a directory of part
    * files of that name (ScaleProbe corpora) — a bare pathGlobFilter
    * over the sf dir matches only the single-file layout (leaf FILE
    * names; a directory's part files silently match nothing and the
    * stream runs empty — caught by the 10x probe). Dispatch on which
    * layout exists. */
  private def eventsStream(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val schema = Tables.events(s, dir).schema
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.getFileStatus(p).isDirectory)
      s.readStream.schema(schema).parquet(p.toString)
    else s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
  }

  private val stopwordList =
    TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Shared trainer for the two quality-model queries: logistic GD
    * distilled from the rule gate (curate()'s default thresholds as the
    * weak label). Deliberately NOT memoized — training IS the measured
    * work of docs_quality_model, and a cache would make the warmed
    * bench report a no-op. */
  private def trainQualityModel(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Double] =
    graft.functions.QualityModel.train(Tables.documents(s, dir),
      "text", "n_chars",
      graft.pipeline.Curation.qualityPredicate(col("text"),
        graft.pipeline.Curation.QualityThresholds()).cast("double"))

  /** w·x with the weight row aliased `w` — the exact left-associative
    * term order QualityModel.features/dot produce. */
  private val qmZ: String = (0 until 5).map(j => s"f$j * w.w$j").mkString(" + ")

  /** The DSIR replay through per-doc importance weights: hashed-bigram
    * bucket counts, the add-1-smoothed B-row log-ratio table (every ln
    * rounded at 8, spine-joined so unseen buckets carry the floor), and
    * the exact decimal term sum — mirrors [[graft.ops.Dsir]] expression
    * for expression. Shared by the weights and sample oracles. */
  private val dsirWeightCtes: String =
    """bg AS (
      |  SELECT doc_id, source,
      |    unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS g
      |  FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS toks
      |        FROM documents)),
      |bc AS (
      |  SELECT doc_id, source,
      |    (('0x' || substr(md5(g), 1, 7))::BIGINT % 256) AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM bg GROUP BY 1, 2, 3),
      |tb AS (SELECT bucket, SUM(cnt) AS c FROM bc WHERE source = 'src0' GROUP BY bucket),
      |rb AS (SELECT bucket, SUM(cnt) AS c FROM bc WHERE source <> 'src0' GROUP BY bucket),
      |tt AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM tb),
      |rt AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM rb),
      |ratios AS (
      |  SELECT s.bucket,
      |    round(round(ln((coalesce(CAST(tb.c AS DOUBLE), 0.0) + 1.0) / (tt.total + 256.0)), 8)
      |        - round(ln((coalesce(CAST(rb.c AS DOUBLE), 0.0) + 1.0) / (rt.total + 256.0)), 8), 8) AS ratio
      |  FROM (SELECT unnest(range(256)) AS bucket) s
      |  LEFT JOIN tb ON tb.bucket = s.bucket
      |  LEFT JOIN rb ON rb.bucket = s.bucket, tt, rt),
      |wts AS (
      |  SELECT doc_id,
      |    CAST(round(SUM(CAST(round(cnt * ratio, 8) AS DECIMAL(28,10))), 6) AS DOUBLE) AS logw
      |  FROM bc JOIN ratios USING (bucket)
      |  WHERE source <> 'src0'
      |  GROUP BY doc_id)""".stripMargin

  /** The quality-model replay: base features + label CTE, then one
    * (gradient, weight-update) CTE pair per GD iteration — the learned
    * weights computed INSIDE DuckDB with the identical IEEE expression
    * order, decimal gradient sums, and fixed-scale rounds as
    * [[graft.functions.QualityModel.train]]. */
  private val qualityModelIters = 8
  private val qualityModelCtes: String = {
    val toks = "string_split(lower(text), ' ')"
    val sr = s"CAST(len(list_filter($toks, t -> list_contains($stopwordList, t))) AS DOUBLE)" +
      s" / CAST(greatest(len($toks), 1) AS DOUBLE)"
    val mtl = s"CAST(len(text) - len($toks) + 1 AS DOUBLE)" +
      s" / CAST(greatest(len($toks), 1) AS DOUBLE)"
    val sb = new StringBuilder
    sb.append(
      s"""base AS (
         |  SELECT doc_id,
         |    1.0 AS f0,
         |    CAST(least(len($toks), 200) AS DOUBLE) / 200.0 AS f1,
         |    $sr AS f2,
         |    CAST(least(n_chars, 1000) AS DOUBLE) / 1000.0 AS f3,
         |    ($mtl) / 20.0 AS f4,
         |    CASE WHEN len($toks) BETWEEN 10 AND 100000
         |      AND $sr >= 0.05 AND $mtl <= 12.0 THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |w0 AS (SELECT """.stripMargin)
    sb.append((0 until 5).map(j => s"0.0 AS w$j").mkString(", ")).append(")")
    for (k <- 1 to qualityModelIters) {
      val err = s"round(1.0 / (1.0 + round(exp(-($qmZ)), 8)) - y, 8)"
      val gsums = (0 until 5).map(j =>
        s"CAST(SUM(CAST(round($err * f$j, 8) AS DECIMAL(28,10))) AS DOUBLE) AS gs$j")
        .mkString(",\n    ")
      sb.append(
        s""",
           |g$k AS (
           |  SELECT $gsums,
           |    CAST(count(*) AS DOUBLE) AS n
           |  FROM base, w${k - 1} w),
           |w$k AS (SELECT """.stripMargin)
      sb.append((0 until 5).map(j =>
        s"round(w.w$j - 2.0 * (g.gs$j / g.n), 8) AS w$j").mkString(", "))
      sb.append(s" FROM w${k - 1} w, g$k g)")
    }
    sb.toString
  }


  /** Rolling z-score replay: exact decimal frame sums cast to double
    * once, identical IEEE arithmetic, z rounded at 6 after the one sqrt.
    * Shared by events_anomaly (batch) and stream_anomaly (the streaming
    * leg) — the batch ≡ stream law makes one replay serve both. */
  private val rollingZScoreOracle: String =
    """WITH s AS (
      |  SELECT event_id, user_id, value,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s2,
      |    CAST(COUNT(value) OVER w AS DOUBLE) AS n
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_id, user_id, value,
      |    CASE WHEN n >= 8.0 AND (s2 - s1 * s1 / n) / (n - 1.0) > 0.0
      |      THEN round((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1.0)), 6)
      |    END AS z
      |  FROM s)
      |SELECT event_id, user_id, value, z,
      |  coalesce(abs(z) > 3.0, false) AS anomaly
      |FROM z ORDER BY event_id""".stripMargin

  /** The MinHash+LSH pipeline (md5 affine family, 8 bands × 4 rows,
    * 3-shingles, jaccard ≥ 0.8) as a reusable CTE chain ending in
    * `mpairs(id_a, id_b, jaccard)` — shared verbatim by the
    * dedup_minhash_pairs oracle and the pipeline_curation composition
    * (one definition, so the two replays cannot drift). */
  private val minhashPairCtes: String = {
    val sigCols = (0 until 32).map { i =>
      val a = (2654435761L * (i + 1)) % 1073741824L + 1
      s"""list_min(list_transform(shset,
         |      s -> ($a * (('0x' || substr(md5(s), 1, 7))::BIGINT) + $i) % 2147483647)) AS m$i""".stripMargin
    }.mkString(",\n    ")
    val bandSelects = (0 until 8).map { b =>
      val key = (0 until 4).map(r => s"m${b * 4 + r}").mkString("[", ", ", "]")
      s"SELECT id, $b AS band, $key AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""sets AS (
       |  SELECT doc_id AS id, list_distinct(
       |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]) AS shset
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
       |  WHERE len(toks) >= 3),
       |sig AS (
       |  SELECT id, shset,
       |    $sigCols
       |  FROM sets),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bh = y.bh AND x.id < y.id),
       |j AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(a.shset, b.shset)) AS shared,
       |    len(a.shset) AS na, len(b.shset) AS nb
       |  FROM cand JOIN sig a ON a.id = id_a JOIN sig b ON b.id = id_b),
       |mpairs AS (
       |  SELECT id_a, id_b,
       |    CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE) AS jaccard
       |  FROM j
       |  WHERE CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE) >= 0.8)""".stripMargin
  }

  /** SQL CASE chain replaying [[graft.ops.Sampling.splitColumn]] term for
    * term. Thresholds are generated by the SAME Scala arithmetic as the
    * operator (cumulative-sum floating point included), so the embedded
    * literals round-trip to identical doubles; the null-key guard mirrors
    * splitColumn's (null key → NULL split in both engines, never a silent
    * last-bucket leak). ONE definition of the replay, shared by every
    * split-consuming oracle — the Parity.dsum discipline. */
  private def splitCaseSql(key: String, salt: String,
      splits: Seq[(String, Double)]): String = {
    val total = splits.map(_._2).sum
    val cums = splits.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
    val u = s"(('0x' || substr(md5($key::VARCHAR || ':$salt'), 1, 13))::BIGINT" +
      " / 4503599627370496.0)"
    val cases = splits.init.zip(cums.init).reverse
      .foldLeft(s"'${splits.last._1}'") {
        case (rest, ((name, _), cum)) =>
          s"CASE WHEN $u < $cum THEN '$name' ELSE $rest END"
      }
    s"CASE WHEN $key IS NULL THEN NULL ELSE $cases END"
  }

  /** The Jaccard pair graph → connected components → canonical-member
    * CTE chain shared verbatim by the dedup_clusters and
    * docs_split_leakage oracles (the latter composes on top). */
  private val clusterCanonCtes =
    """sh AS (
      |  SELECT doc_id AS id, unnest(list_distinct(
      |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |shared AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM shared
      |  JOIN sizes sa ON sa.id = id_a
      |  JOIN sizes sb ON sb.id = id_b
      |  WHERE CAST(shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) >= 0.8),
      |edges AS (
      |  SELECT id_a AS x, id_b AS y FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(x, y) AS (
      |  SELECT x, y FROM edges
      |  UNION
      |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
      |canon AS (
      |  SELECT x AS id, least(x, min(y)) AS canonical_id
      |  FROM reach GROUP BY x)""".stripMargin

  /** The Gopher repetition-signal CTE chain (per-doc gram fractions) —
    * ONE definition shared by the docs_repetition_rules oracle and the
    * pipeline_curation_v2 composition (cannot drift). */
  private val repetitionFracCtes: String =
    """base AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |gr AS (
      |  SELECT doc_id, 2 AS n,
      |    unnest([array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]) AS g
      |  FROM base
      |  UNION ALL
      |  SELECT doc_id, 3,
      |    unnest([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])
      |  FROM base
      |  UNION ALL
      |  SELECT doc_id, 0,
      |    unnest([array_to_string(toks[(k*10+1):(k*10+10)], ' ')
      |            FOR k IN range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))])
      |  FROM base WHERE len(toks) > 0),
      |cnts AS (
      |  SELECT doc_id, n, g, count(*) AS cnt FROM gr GROUP BY 1, 2, 3),
      |st AS (
      |  SELECT doc_id, n, SUM(cnt) AS total, MAX(cnt) AS top,
      |    SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup
      |  FROM cnts GROUP BY 1, 2),
      |fr AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN n = 2 THEN CAST(top AS DOUBLE) / CAST(total AS DOUBLE) END) AS top_bigram_frac,
      |    MAX(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / CAST(total AS DOUBLE) END) AS dup_trigram_frac,
      |    MAX(CASE WHEN n = 0 THEN CAST(dup AS DOUBLE) / CAST(total AS DOUBLE) END) AS dup_chunk_frac
      |  FROM st GROUP BY doc_id)""".stripMargin

  /** The learned-langid CTE chain (train → priors → score → ranked
    * predictions, `best` filtered at rk = 1 for the winner) — ONE
    * definition shared by the text_langid_model oracle and the
    * pipeline_curation_v2 composition. */
  private val langidCtes: String =
    """grams AS (
      |  SELECT doc_id, lang, substr(lt, CAST(j AS INTEGER), 2) AS g
      |  FROM (
      |    SELECT doc_id, lang, lt, unnest(range(1, length(lt))) AS j
      |    FROM (SELECT doc_id, lang, lower(text) AS lt FROM documents))),
      |bg AS (
      |  SELECT doc_id, ('0x' || substr(md5(g), 1, 7))::BIGINT % 256 AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM grams GROUP BY 1, 2),
      |tr AS (
      |  SELECT lang, ('0x' || substr(md5(g), 1, 7))::BIGINT % 256 AS bucket,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM grams WHERE lang IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS total FROM tr GROUP BY lang),
      |spine AS (
      |  SELECT lang, unnest(range(256)) AS bucket
      |  FROM (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL)),
      |model AS (
      |  SELECT s.lang, s.bucket,
      |    round(ln((COALESCE(tr.c, 0) + 1.0) / (COALESCE(tot.total, 0) + 256.0)), 8) AS logp
      |  FROM spine s
      |  LEFT JOIN tr ON s.lang = tr.lang AND s.bucket = tr.bucket
      |  LEFT JOIN tot ON s.lang = tot.lang),
      |pr AS (
      |  SELECT lang, round(ln(CAST(count(*) AS DOUBLE) /
      |    CAST((SELECT count(*) FROM documents WHERE lang IS NOT NULL) AS DOUBLE)), 8) AS prior
      |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
      |sc AS (
      |  SELECT b.doc_id, m.lang,
      |    CAST(round(CAST(SUM(CAST(round(b.cnt * m.logp, 8) AS DECIMAL(28,10)))
      |        AS DECIMAL(28,10))
      |      + CAST(ANY_VALUE(pr.prior) AS DECIMAL(18,8)), 6) AS DOUBLE) AS score
      |  FROM bg b JOIN model m ON b.bucket = m.bucket
      |  JOIN pr ON m.lang = pr.lang
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT doc_id, lang AS pred, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rk
      |  FROM sc)""".stripMargin

  /** The exact-substring-removal CTE chain ending in per-doc kept-token
    * aggregates (`agg`) plus the non-null-text doc spine (`toks`) — ONE
    * definition shared by the dedup_span_removal oracle and the
    * pipeline_curation_v2 composition. */
  /** The unigram seed-vocabulary replay, ending in `uvocab`(piece, cnt,
    * logp) — substring counts over the word-type table (each occurrence
    * counted, weighted by type frequency), all single chars kept for
    * coverage, top multis by (cnt desc, piece asc), one rounded ln.
    * Shared by text_unigram_vocab and the segments oracle. */
  private val unigramVocabCtes: String =
    """utypes AS MATERIALIZED (
      |  SELECT w AS word, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE len(w) > 0 GROUP BY w),
      |usubs AS MATERIALIZED (
      |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(flatten([[substr(word, s + 1, l)
      |        FOR l IN range(1, least(4, len(word) - s) + 1)]
      |      FOR s IN range(0, len(word))])) AS piece, cnt
      |    FROM utypes) GROUP BY piece),
      |usel AS (
      |  SELECT piece, cnt FROM usubs WHERE len(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt,
      |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn
      |    FROM usubs WHERE len(piece) > 1)
      |  WHERE rn <= 64 - (SELECT count(*) FROM usubs WHERE len(piece) = 1)),
      |uvocab AS MATERIALIZED (
      |  SELECT piece, cnt,
      |    round(ln(CAST(cnt AS DOUBLE) /
      |      (SELECT CAST(sum(cnt) AS DOUBLE) FROM usel)), 8) AS logp
      |  FROM usel)""".stripMargin

  /** The Viterbi DP replay, parameterized by the vocabulary CTE and a
    * name prefix (so the seed-vocab and EM-refined-vocab passes can
    * chain in ONE statement): 16 chained MATERIALIZED layers — layer i
    * picks, for every word long enough, the best last-piece start among
    * the ≤4 candidates ending at position i (max score, ties to the
    * smallest start — the engine's ascending-scan strict-> exactly) —
    * then a recursive backtrace prepends the pieces into
    * `${prefix}seg(word, parts)`. The vocabulary join excludes unknown
    * pieces, which matches the engine's sentinel arithmetic wherever a
    * finite path exists (always, on the corpus the vocabulary was
    * trained on — under the refined vocabulary every word's seed best
    * path survives the E-step, so a finite path always exists and the
    * engine's -1e9 OOV arm can never win). */
  private def unigramViterbiCtes(prefix: String, vocabCte: String): String = {
    val (p, w) = (4, 16)
    val sb = new StringBuilder
    sb.append(
      s"""${prefix}b0 AS MATERIALIZED (
        |  SELECT word, CAST(0 AS INTEGER) AS pos, CAST(0.0 AS DOUBLE) AS s,
        |    CAST(-1 AS INTEGER) AS bk
        |  FROM utypes WHERE len(word) <= 16)""".stripMargin)
    for (i <- 1 to w) {
      sb.append(s""",
        |${prefix}l$i AS MATERIALIZED (
        |  SELECT word, CAST($i AS INTEGER) AS pos, s, bk FROM (
        |    SELECT b.word, b.s + v.logp AS s, b.pos AS bk,
        |      row_number() OVER (PARTITION BY b.word
        |        ORDER BY b.s + v.logp DESC, b.pos) AS rn
        |    FROM ${prefix}b${i - 1} b
        |    JOIN $vocabCte v ON v.piece = substr(b.word, b.pos + 1, $i - b.pos)
        |    WHERE b.pos >= $i - $p AND b.pos < $i AND len(b.word) >= $i)
        |  WHERE rn = 1),
        |${prefix}b$i AS MATERIALIZED (
        |  SELECT * FROM ${prefix}b${i - 1} UNION ALL SELECT * FROM ${prefix}l$i)""".stripMargin)
    }
    sb.append(s""",
      |${prefix}walk AS (
      |  SELECT word, CAST(len(word) AS INTEGER) AS pos,
      |    CAST([] AS VARCHAR[]) AS parts
      |  FROM utypes WHERE len(word) <= $w
      |  UNION ALL
      |  SELECT k.word, b.bk AS pos,
      |    list_prepend(substr(k.word, b.bk + 1, k.pos - b.bk), k.parts)
      |      AS parts
      |  FROM ${prefix}walk k JOIN ${prefix}b$w b
      |    ON b.word = k.word AND b.pos = k.pos
      |  WHERE k.pos > 0),
      |${prefix}seg AS (SELECT word, parts FROM ${prefix}walk WHERE pos = 0)""".stripMargin)
    sb.toString
  }

  /** The hard-EM M-step replay over the seed-vocab segmentation `useg`:
    * Viterbi piece counts weighted by type frequency (long words
    * excluded — the engine's junk-token policy), one rounded ln. */
  private val unigramEmCtes: String =
    """emcnt AS MATERIALIZED (
      |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
      |    SELECT t.cnt, unnest(g.parts) AS piece
      |    FROM utypes t JOIN useg g USING (word)
      |    WHERE len(t.word) <= 16)
      |  GROUP BY piece),
      |emvocab AS MATERIALIZED (
      |  SELECT piece, cnt,
      |    round(ln(CAST(cnt AS DOUBLE) /
      |      (SELECT CAST(sum(cnt) AS DOUBLE) FROM emcnt)), 8) AS logp
      |  FROM emcnt)""".stripMargin

  /** Final projection of a `${prefix}seg` segmentation against the type
    * table (long words pass through whole). */
  private def unigramSegSelect(prefix: String): String =
    s"""SELECT t.word, t.cnt,
       |  CASE WHEN len(t.word) > 16 THEN t.word
       |       ELSE array_to_string(g.parts, ' ') END AS pieces,
       |  CAST(CASE WHEN len(t.word) > 16 THEN 1
       |       ELSE len(g.parts) END AS BIGINT) AS n_pieces
       |FROM utypes t LEFT JOIN ${prefix}seg g USING (word)
       |ORDER BY t.word""".stripMargin

  /** text_unigram_segments: seed CTEs → seed-vocab DP → EM M-step →
    * SECOND DP under the refined vocabulary → projection. */
  private val unigramSegmentSql: String =
    s"""WITH RECURSIVE $unigramVocabCtes,
       |${unigramViterbiCtes("u", "uvocab")},
       |$unigramEmCtes,
       |${unigramViterbiCtes("e", "emvocab")}
       |${unigramSegSelect("e")}""".stripMargin

  /** The budgetPlan replay: per-source token capacities, the one
    * rounded pow as the exact integer weight u = round(w·10^6), then
    * 8 capping rounds as chained CTEs — each round caps every active
    * group whose capacity is at most its integer share
    * (R·u) // U of the remaining budget (HUGEINT arithmetic, exact) —
    * and the final share for the survivors. Mirrors
    * [[graft.ops.Sampling.budgetPlan]]'s fixed-iteration semantics
    * exactly (extra rounds past the fixpoint are no-ops on both sides).
    * MATERIALIZED on every iteration CTE is load-bearing (the BPE-replay
    * lesson): each round references its predecessor three times, so
    * default inlining expands the corpus scan 3^8 times. */
  private val budgetPlanSql: String = {
    val iters = 8
    val sb = new StringBuilder
    sb.append(
      """WITH base AS (
        |  SELECT source AS g,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
        |  GROUP BY source),
        |w AS (SELECT g, c,
        |  CAST(round(pow(c * 1.0, 0.5) * 1000000, 0) AS HUGEINT) AS u
        |  FROM base),
        |it0 AS MATERIALIZED (SELECT g, c, u, FALSE AS capped FROM w)""".stripMargin)
    def share(p: String) =
      s"""((26000 - (SELECT COALESCE(SUM(c), 0) FROM $p WHERE capped)) * u)
         |      // (SELECT SUM(u) FROM $p WHERE NOT capped)""".stripMargin
    // COALESCE mirrors the engine's zero-weight guard (Sampling
    // .budgetPlan: bigU == 0 → nothing more capped, alloc 0): when
    // every active group has zero capacity, SUM(u) = 0 makes the `//`
    // NULL in DuckDB — without the guard `c <= NULL` would stall the
    // capped flag as NULL and least() would pass capacity through.
    for (k <- 1 to iters) {
      val p = s"it${k - 1}"
      sb.append(s""",
        |it$k AS MATERIALIZED (
        |  SELECT g, c, u, capped OR COALESCE(c <=
        |    ${share(p)}, FALSE) AS capped
        |  FROM $p)""".stripMargin)
    }
    sb.append(s"""
      |SELECT g AS source, c AS n_tokens_avail,
      |  round(pow(c * 1.0, 0.5), 6) AS weight,
      |  CAST(CASE WHEN capped THEN c ELSE
      |    least(CAST(c AS HUGEINT), COALESCE(${share(s"it$iters")}, 0))
      |  END AS BIGINT) AS alloc_tokens, capped
      |FROM it$iters ORDER BY source""".stripMargin)
    sb.toString
  }

  /** The packChunks replay, ending in `packed`(doc_id, chunk_id,
    * tok_from, tok_to, n_toks) — shared by docs_pack_chunks and the
    * shard manifest built on top of it (one definition: the manifest
    * oracle must shard exactly the rows the pack oracle emits). */
  private val packChunkCtes: String =
    """counts AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |cums AS (
      |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
      |  FROM counts),
      |spans AS (
      |  SELECT doc_id, n, e, e - n AS s,
      |    unnest(generate_series((e - n) // 512, (e - 1) // 512)) AS chunk_id
      |  FROM cums),
      |packed AS (
      |  SELECT doc_id, chunk_id,
      |    greatest(chunk_id * 512 - s, 0) AS tok_from,
      |    least((chunk_id + 1) * 512 - s, n) AS tok_to,
      |    least((chunk_id + 1) * 512 - s, n)
      |      - greatest(chunk_id * 512 - s, 0) AS n_toks
      |  FROM spans)""".stripMargin

  private val spanRemovalCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |tok AS (
      |  SELECT doc_id, CAST(j AS BIGINT) - 1 AS idx,
      |    tk[CAST(j AS INTEGER)] AS tok
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS j
      |        FROM toks)),
      |spans AS (
      |  SELECT doc_id, CAST(p AS BIGINT) - 1 AS pos,
      |    regexp_replace(trim(lower(array_to_string(
      |      tk[CAST(p AS INTEGER) : CAST(p AS INTEGER) + 9], ' '))),
      |      '\s+', ' ', 'g') AS norm
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 10 + 2)) AS p
      |        FROM toks WHERE len(tk) >= 10)),
      |marked AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |      row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
      |    FROM spans) WHERE rn > 1),
      |rem AS (
      |  SELECT DISTINCT doc_id, pos + CAST(o AS BIGINT) AS idx
      |  FROM (SELECT doc_id, pos, unnest(range(0, 10)) AS o FROM marked)),
      |agg AS (
      |  SELECT t.doc_id,
      |    array_to_string(list(t.tok ORDER BY t.idx), ' ') AS text_cleaned,
      |    CAST(count(*) AS BIGINT) AS n_tokens_kept
      |  FROM tok t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.idx = r.idx
      |  WHERE r.doc_id IS NULL GROUP BY t.doc_id)""".stripMargin

  private val curationSplits = Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01)
  private lazy val curationCanonSplit = splitCaseSql(
    "coalesce(c.canonical_id, d.doc_id)", "curation-v1", curationSplits)
  private lazy val curationOwnSplit =
    splitCaseSql("d.doc_id", "curation-v1", curationSplits)

  /** The V1 curation stage CTEs (cluster solve over the shared minhash
    * chain, quality, exact-dup, contamination) — shared by the
    * pipeline_curation and pipeline_curation_v2 compositions. */
  /** Connected components + min-canonical over the `mpairs` CTE — the
    * cluster solve shared by the curation compositions and the
    * standalone dedup_minhash_clusters oracle. */
  private val clusterSolveCtes: String =
    """edges AS (
      |  SELECT id_a AS x, id_b AS y FROM mpairs
      |  UNION ALL SELECT id_b, id_a FROM mpairs),
      |reach(x, y) AS (
      |  SELECT x, y FROM edges
      |  UNION
      |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
      |canon AS (
      |  SELECT x AS id, least(x, min(y)) AS canonical_id
      |  FROM reach GROUP BY x)""".stripMargin

  private val curationCoreCtes: String =
    s"""$clusterSolveCtes,
       |feats AS (
       |  SELECT doc_id, text, string_split(lower(text), ' ') AS toks
       |  FROM documents),
       |qual AS (
       |  SELECT doc_id,
       |    coalesce(text IS NOT NULL
       |      AND len(toks) BETWEEN 10 AND 100000
       |      AND CAST(len(list_filter(toks,
       |            t -> list_contains($stopwordList, t))) AS DOUBLE)
       |        / CAST(greatest(len(toks), 1) AS DOUBLE) >= 0.05
       |      AND CAST(len(text) - len(toks) + 1 AS DOUBLE)
       |        / CAST(greatest(len(toks), 1) AS DOUBLE) <= 12.0,
       |      FALSE) AS passed_quality
       |  FROM feats),
       |ex AS (
       |  SELECT doc_id,
       |    (text IS NOT NULL) AND (row_number() OVER (
       |      PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
       |      ORDER BY doc_id) <> 1) AS is_exact_dup
       |  FROM documents),
       |csh AS (
       |  SELECT doc_id AS id, unnest(list_distinct(
       |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
       |  FROM feats),
       |bsh AS (
       |  SELECT DISTINCT unnest(list_distinct(
       |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
       |  FROM (SELECT string_split(lower(text), ' ') AS toks
       |        FROM documents WHERE source = 'src0')),
       |cont AS (
       |  SELECT id FROM (
       |    SELECT csh.id, count(*) AS n_sh, count(b.shingle) AS n_hit
       |    FROM csh LEFT JOIN bsh b ON csh.shingle = b.shingle
       |    GROUP BY csh.id)
       |  WHERE CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) >= 0.8)""".stripMargin

  /** The V1 audit column expressions and join spine — shared verbatim
    * by both compositions (one definition cannot drift). */
  private lazy val curationV1Cols: String =
    s"""q.passed_quality,
       |  e.is_exact_dup,
       |  coalesce(c.canonical_id IS NOT NULL
       |    AND c.canonical_id <> d.doc_id, FALSE) AS is_near_dup,
       |  (ct.id IS NOT NULL) AS is_contaminated,
       |  $curationCanonSplit AS split,
       |  coalesce(c.canonical_id IS NOT NULL
       |    AND $curationOwnSplit <> $curationCanonSplit, FALSE) AS split_moved""".stripMargin

  private val curationV1Joins: String =
    """FROM documents d
      |JOIN qual q USING (doc_id)
      |JOIN ex e USING (doc_id)
      |LEFT JOIN canon c ON c.id = d.doc_id
      |LEFT JOIN cont ct ON ct.id = d.doc_id""".stripMargin

  /** The composed curation pipeline replay — every stage oracle joined
    * into one audit row per document, sharing the minhash CTE chain with
    * dedup_minhash_pairs. One definition serves both pipeline_curation
    * and its aggregate form pipeline_curation_audit. */
  private lazy val curationCompositionSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |$curationCoreCtes
       |SELECT d.doc_id,
       |  $curationV1Cols
       |$curationV1Joins
       |ORDER BY d.doc_id""".stripMargin

  /** The V2 composition (r8): V1 plus the repetition gate, the learned
    * langid agreement, and the exact-substring repair accounting — each
    * new stage's CTE chain is the SAME val its standalone oracle uses
    * (repetitionFracCtes / langidCtes / spanRemovalCtes). */
  private lazy val curationCompositionSqlV2: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |$curationCoreCtes,
       |$repetitionFracCtes,
       |$langidCtes,
       |$spanRemovalCtes
       |SELECT d.doc_id,
       |  $curationV1Cols,
       |  coalesce(rp.keep, TRUE) AS passed_repetition,
       |  COALESCE(lb.pred, 'und') AS lang_pred,
       |  (d.lang IS NULL OR COALESCE(lb.pred, 'und') = 'und'
       |    OR COALESCE(lb.pred, 'und') = d.lang) AS lang_agrees,
       |  COALESCE(CAST(len(tk2.tk) AS BIGINT)
       |    - COALESCE(sra.n_tokens_kept, 0), 0) AS n_span_tokens_removed
       |$curationV1Joins
       |LEFT JOIN (
       |  SELECT doc_id,
       |    coalesce(top_bigram_frac <= 0.20, TRUE)
       |      AND coalesce(dup_trigram_frac <= 0.29, TRUE)
       |      AND coalesce(dup_chunk_frac <= 0.30, TRUE) AS keep
       |  FROM fr) rp ON rp.doc_id = d.doc_id
       |LEFT JOIN (SELECT * FROM best WHERE rk = 1) lb ON lb.doc_id = d.doc_id
       |LEFT JOIN toks tk2 ON tk2.doc_id = d.doc_id
       |LEFT JOIN agg sra ON sra.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The DuckDB twin of [[graft.functions.Knn.autoBits]] as a CTE — the
    * ONE copy both LSH oracles (pairs and top-k) interpolate, so a
    * retune of the sizing rule edits exactly two sites: Knn.autoBits
    * and this string. Float log2 here agrees with the Scala integer
    * bit-length form for every n below ~4e15 and EXACTLY at powers of
    * two (IEEE log2 of 2^k is exact); the GREATEST(count, 1) mirrors
    * the Scala side's empty-corpus guard. */
  private val lshNbCte: String =
    "nb AS (\n" +
    "  SELECT GREATEST(6, CAST(ceil(log2(GREATEST(count(*), 1) / 32.0)) AS INT)) AS nbits\n" +
    "  FROM embeddings)"

  /** The DuckDB twin of [[graft.functions.Knn.autoTables]] as a CTE —
    * the pairs path's width-scaled TABLE budget, T = max(24,
    * ⌈ln(1−0.95) / ln(1−(1−acos(0.9)/π)^B)⌉), derived from the SAME
    * count(*) CTE that sizes the signatures (exactly the autoProbes
    * pattern), so the oracle follows the r14 auto-T rule end to end.
    * Cross-engine boundary: the Scala side computes the quotient with
    * `log1p`, this SQL with `ln` of a subtraction — for the numerator
    * the subtraction 1 − 0.95 is exact in both engines (decimal
    * literal / Sterbenz), and the denominator's argument differs by at
    * most one rounding of 1 − p^B, so the two quotients agree to
    * ~1e-13 relative; ceil could only diverge if the quotient sat
    * within that distance of an integer, and KnnSpec pins the
    * quotient's distance from every integer > 1e-6 for all B ≤ 40
    * (the floor makes B ≤ 13 moot anyway: both sides read 24). */
  private val lshNtCte: String =
    "nt AS (\n" +
    "  SELECT GREATEST(24, CAST(ceil(ln(1 - 0.95) / ln(1 - pow(1 - acos(0.9) / pi(), nbits))) AS INT)) AS ntables\n" +
    "  FROM nb)"

  /** The shared ADC pipeline of the two IVF+PQ oracles — every CTE
    * through `scored` (bucket assignment, deterministic codebooks,
    * code choice, probe selection, ADC scoring): the plain gate ranks
    * `scored` directly, the refined gate (r14) appends the
    * candidate-selection + exact-re-rank CTEs. One copy, so the two
    * replays can never drift apart. */
  private val ivfPqScoredCtes: String =
        """corpus AS (
          |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v,
          |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
          |  FROM embeddings),
          |cents AS (
          |  SELECT vid AS centroid_id, v AS centv, nv AS nc
          |  FROM corpus ORDER BY vid LIMIT 16),
          |assigned AS (
          |  SELECT vid, bucket FROM (
          |    SELECT vid, centroid_id AS bucket,
          |      row_number() OVER (PARTITION BY vid ORDER BY
          |        CASE WHEN nv * nc > 0 THEN list_dot_product(v, centv) / (nv * nc) END
          |          DESC, centroid_id) AS rk
          |    FROM corpus CROSS JOIN cents)
          |  WHERE rk = 1),
          |js AS (SELECT unnest(range(0, 16)) AS j),
          |base AS (SELECT vid, v FROM corpus ORDER BY vid LIMIT 16),
          |bk AS (
          |  SELECT j, row_number() OVER (PARTITION BY j ORDER BY vid) AS p,
          |    v[j*4+1 : j*4+4] AS centv
          |  FROM base CROSS JOIN js),
          |books AS (SELECT list(centv ORDER BY j, p) AS bks FROM bk),
          |codes AS (
          |  SELECT vid, list(code ORDER BY j) AS codes FROM (
          |    SELECT vid, j, p AS code FROM (
          |      SELECT c.vid, b.j, b.p, row_number() OVER (
          |        PARTITION BY c.vid, b.j
          |        ORDER BY list_dot_product(b.centv, b.centv)
          |          - 2.0 * list_dot_product(c.v[b.j*4+1 : b.j*4+4], b.centv),
          |          b.p) AS rk
          |      FROM corpus c CROSS JOIN bk b)
          |    WHERE rk = 1)
          |  GROUP BY vid),
          |probed AS (
          |  SELECT query_id, qv, bucket FROM (
          |    SELECT q.vid AS query_id, q.v AS qv, centroid_id AS bucket,
          |      row_number() OVER (PARTITION BY q.vid ORDER BY
          |        CASE WHEN q.nv * nc > 0 THEN list_dot_product(q.v, centv) / (q.nv * nc) END
          |          DESC, centroid_id) AS rk
          |    FROM (SELECT * FROM corpus WHERE vid < 5) q CROSS JOIN cents)
          |  WHERE rk <= 4),
          |scored AS (
          |  SELECT p.query_id, a.vid,
          |    list_dot_product(
          |      list_transform(range(0, 16), j ->
          |        list_dot_product(p.qv[j*4+1 : j*4+4], bks[j*16 + codes[j+1]])),
          |      list_transform(range(0, 16), j -> 1.0)) AS score
          |  FROM assigned a JOIN probed p USING (bucket)
          |  JOIN codes c ON c.vid = a.vid
          |  CROSS JOIN books
          |  WHERE p.query_id <> a.vid)""".stripMargin

  /** The LSH top-k replay, parameterized by the multi-probe budget AS
    * A SQL EXPRESSION ("0" = single-bucket; the mp gate passes
    * "(SELECT nbits - 4 FROM nb)" — Knn.autoProbes' width-scaled
    * budget derived from the SAME count(*) CTE that sizes the
    * signatures, so the oracle follows the adaptive rule end to end):
    * md5-derived planes, corpus sign-signature buckets, query buckets —
    * plus the margin-ranked Hamming-1 fan-out (rank planes per
    * (query, table) by (|dot|, p), XOR the base bucket with 2^p for
    * the first `probes`) — candidate join, exact-cosine verify,
    * per-query rank. */
  private def lshTopkSql(probesSql: String): String = {
    // Signature width derived from count(*) via the shared nb CTE —
    // the same adaptive rule Knn.lshCosine runs (6 at every gate
    // corpus; see lshNbCte for the cross-engine boundary analysis).
    val T = 24; val D = 64
    val fanout =
      if (probesSql == "0") ""
      else s"""
         |  UNION ALL
         |  SELECT f.vec_id, f.t, xor(s.bucket, CAST(pow(2, f.p) AS BIGINT))
         |  FROM (
         |    SELECT vec_id, t, p FROM (
         |      SELECT vec_id, t, p,
         |        row_number() OVER (PARTITION BY vec_id, t
         |          ORDER BY abs(dt), p) AS rn
         |      FROM qdots) WHERE rn <= $probesSql) f
         |  JOIN qsig s ON s.vec_id = f.vec_id AND s.t = f.t""".stripMargin
    s"""WITH $lshNbCte,
       |planes AS (
       |  SELECT CAST(i // nbits AS INT) AS t, CAST(i % nbits AS INT) AS p,
       |    list(w ORDER BY d) AS w
       |  FROM (
       |    SELECT i, d, nbits,
       |      (('0x' || substr(md5('lsh:' || (i // nbits) || ':' || (i % nbits) || ':' || d), 1, 13))::BIGINT
       |        / 4503599627370496.0) * 2.0 - 1.0 AS w
       |    FROM (SELECT unnest(range($T * nbits)) AS i, nbits FROM nb)
       |    CROSS JOIN (SELECT unnest(range($D)) AS d))
       |  GROUP BY 1, 2),
       |vecs AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
       |  FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, t,
       |    SUM(CASE WHEN list_dot_product(v, w) >= 0
       |        THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS bucket
       |  FROM vecs CROSS JOIN planes GROUP BY 1, 2),
       |qdots AS (
       |  SELECT vec_id, t, p, list_dot_product(v, w) AS dt
       |  FROM (SELECT * FROM vecs WHERE vec_id < 5) CROSS JOIN planes),
       |qsig AS (
       |  SELECT vec_id, t,
       |    SUM(CASE WHEN dt >= 0 THEN CAST(pow(2, p) AS BIGINT)
       |        ELSE 0 END) AS bucket
       |  FROM qdots GROUP BY 1, 2),
       |qbuckets AS (
       |  SELECT vec_id, t, bucket FROM qsig$fanout),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vid
       |  FROM sigs c JOIN qbuckets q
       |    ON c.t = q.t AND c.bucket = q.bucket AND c.vec_id <> q.vec_id)
       |SELECT query_id, neighbor_id, cosine, rk FROM (
       |  SELECT query_id, vid AS neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vid) AS rk
       |  FROM (
       |    SELECT query_id, vid,
       |      CASE WHEN q.nv * c.nv > 0
       |           THEN list_dot_product(q.v, c.v) / (q.nv * c.nv) END AS cosine
       |    FROM cand JOIN vecs q ON q.vec_id = query_id
       |    JOIN vecs c ON c.vec_id = vid))
       |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
  }

  /** The session-window replay (gaps-and-islands), shared verbatim by
    * the batch query (events_session) and its streaming leg
    * (stream_session) — the batch ≡ stream law as one oracle text. */
  private val eventsSessionSql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, ts, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '10 minutes'
      |         THEN 1 ELSE 0 END AS newf
      |  FROM ordered),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |    SUM(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      |  CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
      |FROM numbered GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    "text_stats" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS n_chars,
         |  CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
         |  CAST(len(list_filter(string_split(lower(text), ' '),
         |    t -> list_contains($stopwordList, t))) AS INTEGER) AS stopword_hits,
         |  CAST(len(list_filter(string_split(lower(text), ' '),
         |    t -> list_contains($stopwordList, t))) AS DOUBLE)
         |    / CAST(greatest(len(string_split(lower(text), ' ')), 1) AS DOUBLE) AS stopword_ratio,
         |  CAST(length(text) - len(string_split(lower(text), ' ')) + 1 AS DOUBLE)
         |    / CAST(greatest(len(string_split(lower(text), ' ')), 1) AS DOUBLE) AS mean_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_bpe_pair_counts" ->
      """WITH words AS (
        |  SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE w <> '' AND w IS NOT NULL GROUP BY w),
        |pos AS (
        |  SELECT w, freq, unnest(range(1, length(w))) AS i
        |  FROM words WHERE length(w) >= 2)
        |SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
        |  substr(w, CAST(i AS INTEGER) + 1, 1) AS b,
        |  CAST(SUM(freq) AS BIGINT) AS cnt
        |FROM pos GROUP BY 1, 2 ORDER BY a, b""".stripMargin,

    // Replays ALL 20 BPE training iterations as chained CTEs — the
    // docs_quality_model recipe (k data-dependent steps, each one CTE
    // layer) applied to the training loop, disproving r7's "the
    // per-iteration argmax is not one SQL statement". Word state is the
    // wrapped-symbol string of the segments oracle (chr(1)·sym·chr(2)
    // per symbol); each iteration derives the symbol list by splitting
    // on the chr(2)chr(1) boundary, counts OVERLAPPING adjacent pairs
    // weighted by word frequency (exactly the distributed explode),
    // argmaxes with the engine's tie-break (cnt DESC, then (a, b) ASC
    // in binary = code-point order — DuckDB's default VARCHAR order,
    // the same order Spark's UTF8String gives), and rewrites via the
    // non-overlapping left-to-right replace(). Early stop (best pair
    // under min_count) is faithful: the filtered f{i} CTE goes empty,
    // the LEFT JOIN keeps the state unchanged, and every later
    // iteration filters to empty too. Scale-independent — the oracle
    // trains on whatever corpus the gate runs.
    // Seed CTEs → 16-layer Viterbi DP → hard-EM M-step: the refined
    // vocabulary (Viterbi counts renormalized) is what the engine's
    // train + emRefine emits.
    "text_unigram_vocab" ->
      s"""WITH RECURSIVE $unigramVocabCtes,
         |${unigramViterbiCtes("u", "uvocab")},
         |$unigramEmCtes
         |SELECT piece, cnt, logp FROM emvocab ORDER BY piece""".stripMargin,

    "text_unigram_segments" -> unigramSegmentSql,

    // MATERIALIZED on every iteration CTE is load-bearing: w{i+1} and
    // p{i} each reference w{i}, so DuckDB's default inlining would
    // expand the base scan 2^20 times (observed as fd exhaustion).
    "text_bpe_merges" -> {
      val iters = 20
      val minCount = 2
      val sb = new StringBuilder
      sb ++= """WITH words AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE w <> '' AND w IS NOT NULL GROUP BY w),
        |w1 AS MATERIALIZED (
        |  SELECT freq, list_aggregate(list_transform(string_split(w, ''),
        |    c -> chr(1) || c || chr(2)), 'string_agg', '') AS st
        |  FROM words)""".stripMargin
      for (i <- 1 to iters) {
        sb ++= s""",
          |p$i AS MATERIALIZED (
          |  SELECT ss[j] AS a, ss[j + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
          |  FROM (
          |    SELECT freq, ss, unnest(range(1, len(ss))) AS j
          |    FROM (SELECT freq, string_split(trim(st, chr(1) || chr(2)),
          |                  chr(2) || chr(1)) AS ss FROM w$i))
          |  GROUP BY 1, 2),
          |f$i AS MATERIALIZED (
          |  SELECT a, b, cnt FROM (
          |    SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)
          |  WHERE cnt >= $minCount),
          |w${i + 1} AS MATERIALIZED (
          |  SELECT w.freq, CASE WHEN f.a IS NULL THEN w.st
          |    ELSE replace(w.st, chr(1) || f.a || chr(2) || chr(1) || f.b || chr(2),
          |                 chr(1) || f.a || f.b || chr(2)) END AS st
          |  FROM w$i w LEFT JOIN f$i f ON true)""".stripMargin
      }
      sb ++= (1 to iters).map(i =>
        s"""SELECT CAST($i AS INTEGER) AS rank, a AS "left", b AS "right",
           |  a || b AS merged, cnt AS pair_count FROM f$i""".stripMargin)
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY rank")
      sb.toString
    },

    // Replays the APPLY leg of BPE against the committed sf0.01 merge
    // table (the text_bpe_merges golden, read from the classpath so the
    // oracle and the golden cannot drift apart — the SAME fixed table
    // the Spark side applies, so the check is valid at any scale).
    // Segmenting with a fixed table is pure SQL: each symbol is wrapped as
    // chr(1)·sym·chr(2) and the greedy left-to-right non-overlapping
    // merge of (a, b) is exactly SQL replace() of the wrapped pair (the
    // wrappers make token boundaries unambiguous, and giving each
    // symbol its own closing chr(2) means adjacent matches share no
    // characters — a single shared separator would break the "aaaa" →
    // [aa, aa] overlap case). Segments per word = chr(2) count.
    "text_bpe_segments" -> {
      def esc(s: String) = s.replace("'", "''")
      val state0 = "list_aggregate(list_transform(string_split(w, '')," +
        " c -> chr(1) || c || chr(2)), 'string_agg', '')"
      val state = goldenBpeMerges.foldLeft(state0) { case (st, (a, b)) =>
        s"replace($st, chr(1) || '${esc(a)}' || chr(2) || chr(1) || " +
          s"'${esc(b)}' || chr(2), chr(1) || '${esc(a)}${esc(b)}' || chr(2))"
      }
      s"""WITH words AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |  FROM documents),
         |wt AS (SELECT DISTINCT w FROM words WHERE w <> ''),
         |seg AS (
         |  SELECT w, len(st) - len(replace(st, chr(2), '')) AS n_segs
         |  FROM (SELECT w, $state AS st FROM wt))
         |SELECT words.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_segs) AS BIGINT) AS n_bpe_tokens
         |FROM words JOIN seg USING (w)
         |WHERE w <> ''
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_bpe_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text,
        |  '''s|''t|''re|''ve|''m|''ll|''d| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'
        |  )) AS INTEGER) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_rolling_hash" ->
      """SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(lower(text), ' '),
        |        t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_shingle_stats" ->
      """SELECT doc_id, CAST(len(list_distinct(
        |  [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |  )) AS INTEGER) AS n_shingles
        |FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH tc AS (
        |  SELECT doc_id, tok, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |    FROM documents)
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS distinct_ratio,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "docs_per_source" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  COUNT(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "docs_quality_filter" ->
      s"""SELECT doc_id, lang, n_chars,
         |  CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
         |  CAST(len(list_filter(string_split(lower(text), ' '),
         |    t -> list_contains($stopwordList, t))) AS DOUBLE)
         |    / CAST(greatest(len(string_split(lower(text), ' ')), 1) AS DOUBLE) AS stopword_ratio
         |FROM documents
         |WHERE len(string_split(lower(text), ' ')) BETWEEN 10 AND 60
         |  AND n_chars >= 50
         |  AND CAST(len(list_filter(string_split(lower(text), ' '),
         |    t -> list_contains($stopwordList, t))) AS DOUBLE)
         |    / CAST(greatest(len(string_split(lower(text), ' ')), 1) AS DOUBLE) <= 0.3
         |ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS canonical_id, count(*) AS n_members
        |FROM documents GROUP BY fp ORDER BY canonical_id""".stripMargin,

    "docs_repetition_rules" ->
      s"""WITH $repetitionFracCtes
        |SELECT doc_id, top_bigram_frac, dup_trigram_frac, dup_chunk_frac,
        |  coalesce(top_bigram_frac <= 0.20, TRUE) AS r_top_bigram,
        |  coalesce(dup_trigram_frac <= 0.29, TRUE) AS r_dup_trigram,
        |  coalesce(dup_chunk_frac <= 0.30, TRUE) AS r_dup_chunk,
        |  coalesce(top_bigram_frac <= 0.20, TRUE)
        |    AND coalesce(dup_trigram_frac <= 0.29, TRUE)
        |    AND coalesce(dup_chunk_frac <= 0.30, TRUE) AS keep
        |FROM fr
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  CAST(NULL AS DOUBLE), TRUE, TRUE, TRUE, TRUE
        |FROM documents WHERE text IS NULL
        |ORDER BY doc_id""".stripMargin,

    "docs_dsir_weights" ->
      s"""WITH $dsirWeightCtes
         |SELECT doc_id, logw FROM wts ORDER BY doc_id""".stripMargin,

    "docs_dsir_sample" ->
      s"""WITH $dsirWeightCtes
         |SELECT doc_id, logw,
         |  CAST(round(CAST(logw AS DECIMAL(18,6))
         |    - CAST(round(ln(-least(round(ln(
         |      (CAST(('0x' || substr(md5(doc_id::VARCHAR || ':dsir-v1'), 1, 13))::BIGINT AS DOUBLE) + 1.0)
         |        / 4503599627370496.0), 8), -1.0e-8)), 8) AS DECIMAL(18,8)), 6)
         |    AS DOUBLE) AS score
         |FROM wts
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    // The learned weights themselves, replayed through all 8 GD steps.
    "docs_quality_model" -> {
      val rows = (0 until 5).map(j =>
        s"SELECT $j AS dim_idx, w$j AS weight FROM w$qualityModelIters")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $qualityModelCtes
         |SELECT dim_idx, weight FROM (
         |  $rows)
         |ORDER BY dim_idx""".stripMargin
    },

    "docs_quality_scored" ->
      s"""WITH $qualityModelCtes
         |SELECT doc_id,
         |  round(1.0 / (1.0 + round(exp(-($qmZ)), 8)), 6) AS score,
         |  (round(1.0 / (1.0 + round(exp(-($qmZ)), 8)), 6) >= 0.5) AS predicted
         |FROM base, w$qualityModelIters w ORDER BY doc_id""".stripMargin,

    // The calibration sweep rides the same training CTEs; the 9
    // thresholds are parsed decimal literals on both engines (Spark
    // divides k/10.0 — correctly-rounded, bit-equal to the parse) and
    // the ratios are one IEEE division of exact counts.
    "docs_quality_calibration" ->
      s"""WITH $qualityModelCtes,
         |scored AS (
         |  SELECT round(1.0 / (1.0 + round(exp(-($qmZ)), 8)), 6) AS score, y
         |  FROM base, w$qualityModelIters w),
         |t AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5,
         |  0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
         |agg AS (
         |  SELECT threshold,
         |    count(CASE WHEN score >= threshold THEN 1 END) AS n_kept,
         |    count(CASE WHEN score >= threshold AND y = 1.0 THEN 1 END) AS tp,
         |    count(CASE WHEN score >= threshold AND y = 0.0 THEN 1 END) AS fp,
         |    count(CASE WHEN score < threshold AND y = 1.0 THEN 1 END) AS fn
         |  FROM scored, t GROUP BY threshold)
         |SELECT threshold, n_kept, tp, fp, fn,
         |  CAST(tp AS DOUBLE) / nullif(tp + fp, 0) AS "precision",
         |  CAST(tp AS DOUBLE) / nullif(tp + fn, 0) AS recall
         |FROM agg ORDER BY threshold""".stripMargin,

    "dedup_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id AS id, unnest(list_distinct(
        |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)),
        |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        |shared AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) AS jaccard
        |FROM shared
        |JOIN sizes sa ON sa.id = id_a
        |JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $clusterCanonCtes
         |SELECT id, canonical_id FROM canon ORDER BY id""".stripMargin,

    "docs_split_leakage" -> {
      val splitCase = splitCaseSql("doc_id", "split-v1",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""WITH RECURSIVE $clusterCanonCtes,
         |assign AS (SELECT doc_id, $splitCase AS split FROM documents),
         |wc AS (
         |  SELECT a.doc_id, a.split,
         |    coalesce(c.canonical_id, a.doc_id) AS canonical_id
         |  FROM assign a LEFT JOIN canon c ON c.id = a.doc_id)
         |SELECT wc.doc_id, wc.split, wc.canonical_id,
         |  b.split AS final_split, (wc.split <> b.split) AS moved
         |FROM wc LEFT JOIN assign b ON b.doc_id = wc.canonical_id
         |ORDER BY wc.doc_id""".stripMargin
    },

    "knn_cosine_topk" ->
      """SELECT query_id, neighbor_id, cosine, rk FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      CASE WHEN sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) > 0
        |           THEN list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
        |             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
        |      END AS cosine
        |    FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
        |    WHERE q.vec_id <> c.vec_id))
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    "knn_filtered_topk" ->
      """WITH keep AS (
        |  SELECT doc_id AS vec_id FROM documents
        |  WHERE lang = 'en' AND n_chars >= 200),
        |c AS (SELECT e.vec_id, e.embedding FROM embeddings e
        |      JOIN keep USING (vec_id)),
        |q AS (SELECT * FROM embeddings WHERE vec_id < 5)
        |SELECT query_id, neighbor_id, cosine, rk FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      CASE WHEN sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) > 0
        |           THEN list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
        |             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
        |      END AS cosine
        |    FROM c CROSS JOIN q
        |    WHERE q.vec_id <> c.vec_id))
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    "knn_cosine_topk_native" ->
      """SELECT query_id, neighbor_id, cosine, rk FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      CASE WHEN sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) > 0
        |           THEN list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
        |             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
        |      END AS cosine
        |    FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
        |    WHERE q.vec_id <> c.vec_id))
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    "q_range_join" ->
      """WITH bands AS (
        |  SELECT band_id, band_id * 250.0 AS lo, (band_id + 1) * 250.0 AS hi
        |  FROM (SELECT unnest(range(10)) AS band_id))
        |SELECT band_id, COUNT(*) AS n_parts,
        |  CAST(round(SUM(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
        |FROM part p JOIN bands b
        |  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,

    "q_salted_join" ->
      """SELECT s_nationkey, COUNT(*) AS n_items,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q_bloom_semijoin" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_copartitioned_agg" ->
      """SELECT o_custkey, max(c_mktsegment) AS segment, COUNT(*) AS n_orders,
        |  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS spend
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "docs_contamination" ->
      """WITH cs AS (
        |  SELECT doc_id AS id, unnest(list_distinct(
        |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |        FROM documents WHERE source <> 'src0')),
        |bs AS (
        |  SELECT DISTINCT shingle FROM (
        |    SELECT unnest(list_distinct(
        |      [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
        |    FROM (SELECT string_split(lower(text), ' ') AS toks
        |          FROM documents WHERE source = 'src0')))
        |SELECT id, count(*) AS n_sh, count(b.shingle) AS n_hit,
        |  CAST(count(b.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contamination
        |FROM cs LEFT JOIN bs b ON cs.shingle = b.shingle
        |GROUP BY id HAVING count(b.shingle) > 0 ORDER BY id""".stripMargin,

    // Quantized ANN replay: per-dim min/scale stats, int8 codes via the
    // identical floor/clamp arithmetic, reconstruction dot ranking.
    "knn_quantized_topk" ->
      """WITH exploded AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS pos,
        |         unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |stats AS (
        |  SELECT pos, min(x) AS mn, (max(x) - min(x)) / 255.0 AS sc
        |  FROM exploded GROUP BY pos),
        |codes AS (
        |  SELECT vec_id AS vid, list(recon ORDER BY pos) AS recon FROM (
        |    SELECT e.vec_id, e.pos,
        |      s.mn + (CASE WHEN s.sc > 0
        |        THEN least(greatest(CAST(floor((e.x - s.mn) / s.sc) AS BIGINT), 0), 255)
        |        ELSE 0 END) * s.sc AS recon
        |    FROM exploded e JOIN stats s ON e.pos = s.pos)
        |  GROUP BY vec_id)
        |SELECT query_id, neighbor_id, dot, rk FROM (
        |  SELECT query_id, neighbor_id, dot,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rk
        |  FROM (
        |    SELECT q.vid AS query_id, c.vid AS neighbor_id,
        |      list_dot_product(q.recon, c.recon) AS dot
        |    FROM codes c CROSS JOIN (SELECT * FROM codes WHERE vid < 5) q
        |    WHERE q.vid <> c.vid))
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    // Split thresholds are generated by the SAME Scala arithmetic as
    // Sampling.splitColumn (cumulative-sum floating point included), so
    // the embedded literals round-trip to identical doubles.
    "docs_hash_split" ->
      s"""SELECT doc_id, source,
         |  ${splitCaseSql("doc_id", "split-v1",
                Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))} AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // ntile over the value order is the textbook equi-depth spec; the
    // engine's arithmetic form is bit-identical (ref_u5 pins the law).
    "q_histogram_equidepth" ->
      """WITH t AS (
        |  SELECT l_extendedprice AS v,
        |    ntile(8) OVER (ORDER BY l_extendedprice) AS b
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT b AS bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi
        |FROM t GROUP BY b ORDER BY bucket""".stripMargin,

    // Bit-exact Morton replay: column i of the pair occupies bit
    // positions b*2+i, generated by the same Scala loop as the engine.
    "q_zorder_cluster" -> {
      val terms = (for (b <- 0 until 8; (c, i) <- Seq("px", "sy").zipWithIndex)
        yield s"((($c >> $b) & 1) << ${b * 2 + i})").mkString(" | ")
      s"""WITH t AS (SELECT l_orderkey, l_linenumber,
         |  CAST(l_partkey % 256 AS INTEGER) AS px,
         |  CAST(l_suppkey % 256 AS INTEGER) AS sy FROM lineitem)
         |SELECT l_orderkey, l_linenumber, px, sy,
         |  CAST($terms AS BIGINT) AS zval
         |FROM t ORDER BY zval, l_orderkey, l_linenumber""".stripMargin
    },

    // Ground truth is the brute-force product — tiny here; the engine
    // must return exactly the same pairs from its blocked plan.
    "fuzzy_name_match" ->
      """WITH dirty AS (
        |  SELECT DISTINCT substr(n_name, 1, 2) || substr(n_name, 4) AS a
        |  FROM nation WHERE n_name IS NOT NULL),
        |clean AS (SELECT DISTINCT n_name AS b FROM nation
        |  WHERE n_name IS NOT NULL)
        |SELECT a AS left_value, b AS right_value,
        |  levenshtein(a, b) AS dist
        |FROM dirty CROSS JOIN clean
        |WHERE levenshtein(a, b) <= 1
        |ORDER BY left_value, right_value""".stripMargin,

    // The merge law makes the oracle trivial: the full-history rollup.
    // Exact decimal sum, double output (same single conversion the engine
    // applies) — the comparator then hashes identical float64s.
    "inc_rollup_merge" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    // Replays Embeddings.dominantDirection iteration-for-iteration: the
    // per-row dot is an exact DECIMAL(25,12) term sum (matching the
    // engine's exact-by-construction (37,12) fold) and the contraction
    // an exact DECIMAL(38,18) sum; each iterate rounds once at 10
    // decimals after max-abs normalization.
    "emb_principal_direction" -> {
      def iter(prev: String, k: Int): String =
        s"""s$k AS (
           |  SELECT x.vec_id,
           |    CAST(SUM(CAST(x.xv * v.c AS DECIMAL(25,12))) AS DOUBLE) AS s
           |  FROM x JOIN $prev v ON v.dim_idx = x.dim_idx
           |  GROUP BY x.vec_id),
           |w$k AS (
           |  SELECT x.dim_idx,
           |    CAST(SUM(CAST(x.xv * sv.s AS DECIMAL(38,18))) AS DOUBLE) AS w
           |  FROM x JOIN s$k sv ON sv.vec_id = x.vec_id
           |  GROUP BY x.dim_idx),
           |p$k AS (
           |  SELECT dim_idx,
           |    round(w / (SELECT MAX(abs(w)) FROM w$k), 10) AS c
           |  FROM w$k)""".stripMargin
      s"""WITH dims AS (SELECT unnest(range(0, 64)) AS dim_idx),
         |x AS (
         |  SELECT vec_id, i - 1 AS dim_idx, CAST(embedding[i] AS DOUBLE) AS xv
         |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t
         |  WHERE embedding IS NOT NULL AND embedding[i] IS NOT NULL),
         |p0 AS (SELECT dim_idx, CAST(1.0 AS DOUBLE) AS c FROM dims),
         |${iter("p0", 1)},
         |${iter("p1", 2)},
         |${iter("p2", 3)}
         |SELECT d.dim_idx, COALESCE(p.c, 0.0) AS component
         |FROM dims d LEFT JOIN p3 p ON p.dim_idx = d.dim_idx
         |ORDER BY d.dim_idx""".stripMargin
    },

    // Positions replay as row_number over the identical (hash52, key)
    // total order; hash52 is the shared 52-bit md5 family.
    "docs_shuffle" ->
      """SELECT doc_id, source,
        |  row_number() OVER (ORDER BY
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':epoch-0'), 1, 13))::BIGINT,
        |    doc_id) - 1 AS shuffle_pos
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "docs_column_stats" -> {
      def one(c: String): String =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin
      Seq("doc_id", "text", "lang", "source", "n_chars").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // pow is the only transcendental; both engines round it at 6
    // decimals immediately (unigram-logprob precedent), then the keep
    // decision is exact hash arithmetic.
    "docs_budget_plan" -> budgetPlanSql,

    "docs_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |m AS (SELECT CAST(MIN(n) AS DOUBLE) AS nmin FROM c),
        |f AS (SELECT source, round(pow(nmin / n, 0.5), 6) AS keep FROM c, m)
        |SELECT d.doc_id, d.source FROM documents d JOIN f USING (source)
        |WHERE (('0x' || substr(md5(d.doc_id::VARCHAR || ':temp-v1'), 1, 13))::BIGINT
        |       / 4503599627370496.0) < f.keep
        |ORDER BY d.doc_id""".stripMargin,

    "docs_mixture_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE (('0x' || substr(md5(doc_id::VARCHAR || ':mix-v1'), 1, 13))::BIGINT
        |       / 4503599627370496.0)
        |  < CASE WHEN source = 'src0' THEN 0.25
        |         WHEN source = 'src1' THEN 0.5 ELSE 1.0 END
        |ORDER BY doc_id""".stripMargin,

    "dedup_paragraphs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |units AS (
        |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM (
        |    SELECT doc_id, unnest([{'pos': i, 'chunk': array_to_string(tk[i*10+1 : i*10+10], ' ')}
        |      FOR i IN range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))]) AS u
        |    FROM toks)),
        |kept AS (
        |  SELECT doc_id, pos, chunk,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(trim(lower(chunk)), '\s+', ' ', 'g'))
        |      ORDER BY doc_id, pos) AS rn
        |  FROM units)
        |SELECT doc_id, array_to_string(list(chunk ORDER BY pos), ' ') AS text_deduped,
        |  count(*) AS n_units_kept
        |FROM kept WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Replays the C4-style line cleaner: 8-token chunk lines, the
    // re-parameterized rule set (minWords=5, blockword 'dup', 2
    // surviving chunks per page), page flags on the raw text, reasons
    // in first-match order — pure string/integer ops, hash-exact.
    "docs_c4_clean" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN text IS NULL THEN 0
        |         WHEN len(string_split(text, ' ')) > 0
        |           THEN CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT)
        |         ELSE 0 END AS n_lines,
        |    (text IS NULL) AS nt,
        |    COALESCE(contains(lower(text), 'lorem ipsum'), FALSE) AS pb,
        |    COALESCE(contains(text, '{'), FALSE) AS br
        |  FROM documents),
        |units AS (
        |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM (
        |    SELECT doc_id, unnest([{'pos': i, 'chunk': array_to_string(tk[i*8+1 : i*8+8], ' ')}
        |      FOR i IN range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT))]) AS u
        |    FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |          FROM documents WHERE text IS NOT NULL))),
        |survivors AS (
        |  SELECT doc_id, pos, chunk FROM units
        |  WHERE len(list_filter(string_split(chunk, ' '), x -> len(x) > 0)) >= 5
        |    AND NOT contains(lower(chunk), 'dup')),
        |agg AS (
        |  SELECT doc_id, array_to_string(list(chunk ORDER BY pos), ' ') AS tclean,
        |    CAST(count(*) AS BIGINT) AS nk
        |  FROM survivors GROUP BY doc_id),
        |flagged AS (
        |  SELECT b.doc_id, b.n_lines, COALESCE(a.nk, 0) AS n_lines_kept, a.tclean,
        |    CASE WHEN b.nt THEN 'no_text'
        |         WHEN b.pb THEN 'page_blocklist'
        |         WHEN b.br THEN 'brace'
        |         WHEN COALESCE(a.nk, 0) < 2 THEN 'too_few_lines' END AS drop_reason
        |  FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id)
        |SELECT doc_id, n_lines, n_lines_kept,
        |  (drop_reason IS NULL) AS keep, drop_reason,
        |  CASE WHEN drop_reason IS NULL THEN tclean END AS text_clean
        |FROM flagged ORDER BY doc_id""".stripMargin,

    // Replays removeDuplicatedSpans string-keyed: sliding 10-token
    // spans, first occurrence by global (id, pos) per normalized span
    // (the digest partition ≡ string partition absent 96-bit
    // collisions — duplicatedSpans' documented bound), non-first
    // occurrences fan out to their token slots, surviving tokens
    // reassemble in order; the doc spine restores sub-window and
    // fully-removed docs.
    "dedup_span_removal" ->
      s"""WITH $spanRemovalCtes
        |SELECT b.doc_id,
        |  COALESCE(a.text_cleaned, '') AS text_cleaned,
        |  COALESCE(a.n_tokens_kept, 0) AS n_tokens_kept,
        |  CAST(len(b.tk) AS BIGINT) - COALESCE(a.n_tokens_kept, 0)
        |    AS n_tokens_removed
        |FROM toks b LEFT JOIN agg a ON b.doc_id = a.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // Replays the full md5-family MinHash pipeline: per-doc distinct
    // 3-gram sets, 32 min-hash signature slots, 8 bands of 4 rows joined
    // on the raw signature slice, exact-Jaccard verification.
    "dedup_minhash_pairs" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b, jaccard FROM mpairs
         |ORDER BY id_a, id_b""".stripMargin,

    // The skew-proof cluster path: the oracle is the COMPOSED form
    // (pair CTEs + recursive cluster solve), so the gate proves the
    // engine's exact-collapse prestage is invisible in the result.
    "dedup_minhash_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |$clusterSolveCtes
         |SELECT id, canonical_id FROM canon ORDER BY id""".stripMargin,

    // The composed curation pipeline: every stage oracle, joined into
    // one audit row per document. The near-dup/split stages layer the
    // recursive-CTE cluster solve over the SAME minhash pair CTEs the
    // dedup_minhash_pairs oracle uses (shared definition — they cannot
    // drift); quality/fingerprint/contamination replay their stage
    // oracles with Curation.curate's default thresholds; both split
    // CASEs come from splitCaseSql (the Sampling.splitColumn replay).
    "pipeline_curation" -> curationCompositionSql,

    // auditCounts over the same composition: the per-stage drop
    // accounting (the filter-rate monitoring row) aggregated from the
    // one shared replay.
    "pipeline_curation_audit" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN NOT passed_quality THEN 1 END) AS BIGINT) AS n_low_quality,
         |  CAST(count(CASE WHEN is_exact_dup THEN 1 END) AS BIGINT) AS n_exact_dup,
         |  CAST(count(CASE WHEN is_near_dup THEN 1 END) AS BIGINT) AS n_near_dup,
         |  CAST(count(CASE WHEN is_contaminated THEN 1 END) AS BIGINT) AS n_contaminated,
         |  CAST(count(CASE WHEN split_moved THEN 1 END) AS BIGINT) AS n_split_moved,
         |  CAST(count(CASE WHEN passed_quality AND NOT is_exact_dup
         |    AND NOT is_near_dup AND NOT is_contaminated THEN 1 END) AS BIGINT) AS n_kept
         |FROM ($curationCompositionSql)""".stripMargin,

    // The V2 composition — the same shared-CTE discipline, extended
    // with the three r8 stages.
    "pipeline_curation_v2" -> curationCompositionSqlV2,

    "pipeline_curation_v2_audit" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN NOT passed_quality THEN 1 END) AS BIGINT) AS n_low_quality,
         |  CAST(count(CASE WHEN is_exact_dup THEN 1 END) AS BIGINT) AS n_exact_dup,
         |  CAST(count(CASE WHEN is_near_dup THEN 1 END) AS BIGINT) AS n_near_dup,
         |  CAST(count(CASE WHEN is_contaminated THEN 1 END) AS BIGINT) AS n_contaminated,
         |  CAST(count(CASE WHEN NOT passed_repetition THEN 1 END) AS BIGINT) AS n_repetitive,
         |  CAST(count(CASE WHEN NOT lang_agrees THEN 1 END) AS BIGINT) AS n_lang_mismatch,
         |  CAST(count(CASE WHEN n_span_tokens_removed > 0 THEN 1 END) AS BIGINT) AS n_span_repaired,
         |  CAST(count(CASE WHEN split_moved THEN 1 END) AS BIGINT) AS n_split_moved,
         |  CAST(count(CASE WHEN passed_quality AND NOT is_exact_dup
         |    AND NOT is_near_dup AND NOT is_contaminated
         |    AND passed_repetition AND lang_agrees THEN 1 END) AS BIGINT) AS n_kept
         |FROM ($curationCompositionSqlV2)""".stripMargin,

    // Replays the md5-family SimHash bit votes: 60 per-bit sign sums
    // (bits 60-63 of the 60-bit hash are always 0 on both sides).
    "dedup_simhash" -> {
      val bitSums = (0 until 60).map(b =>
        s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(",\n    ")
      val assemble = (0 until 60).map(b =>
        s"(CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
        .mkString(" +\n  ")
      s"""WITH th AS (
         |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
         |        FROM documents)),
         |bits AS (
         |  SELECT doc_id,
         |    $bitSums
         |  FROM th GROUP BY doc_id)
         |SELECT doc_id AS id,
         |  $assemble AS simhash
         |FROM bits ORDER BY id""".stripMargin
    },

    // Mirrors Knn.ivf exactly: centroids = the 16 smallest-id vectors,
    // cosine with precomputed norms (same float ops as the Spark fold),
    // argmax bucket assignment with centroid_id tiebreak, nprobe=4
    // buckets per query, top-10 with neighbor-id tiebreak.
    "knn_ivf_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
        |  FROM embeddings),
        |cents AS (
        |  SELECT vid AS centroid_id, v AS centv, nv AS nc
        |  FROM corpus ORDER BY vid LIMIT 16),
        |assigned AS (
        |  SELECT vid, v, nv, bucket FROM (
        |    SELECT vid, v, nv, centroid_id AS bucket,
        |      row_number() OVER (PARTITION BY vid ORDER BY
        |        CASE WHEN nv * nc > 0 THEN list_dot_product(v, centv) / (nv * nc) END
        |          DESC, centroid_id) AS rk
        |    FROM corpus CROSS JOIN cents)
        |  WHERE rk = 1),
        |probed AS (
        |  SELECT query_id, qv, nq, bucket FROM (
        |    SELECT q.vid AS query_id, q.v AS qv, q.nv AS nq, centroid_id AS bucket,
        |      row_number() OVER (PARTITION BY q.vid ORDER BY
        |        CASE WHEN q.nv * nc > 0 THEN list_dot_product(q.v, centv) / (q.nv * nc) END
        |          DESC, centroid_id) AS rk
        |    FROM (SELECT * FROM corpus WHERE vid < 5) q CROSS JOIN cents)
        |  WHERE rk <= 4)
        |SELECT query_id, neighbor_id, cosine, rk FROM (
        |  SELECT query_id, vid AS neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vid) AS rk
        |  FROM (
        |    SELECT query_id, vid,
        |      CASE WHEN nq * nv > 0 THEN list_dot_product(qv, v) / (nq * nv) END AS cosine
        |    FROM assigned JOIN probed USING (bucket)
        |    WHERE query_id <> vid))
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    // Replays the full LSH pipeline: 24x6 md5-derived hyperplanes,
    // PQ replay: deterministic codebooks (16 smallest-id vectors' 4-dim
    // sub-vectors, rank-ordered by source id), per-subspace argmin over
    // |b|² - 2a·b (L2 minus the constant |a|² — same order, same ties,
    // and both engines evaluate the identical sequential-dot expression),
    // ADC scoring as sequential sub-dots folded by a dot against ones.
    "knn_pq_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |js AS (SELECT unnest(range(0, 16)) AS j),
        |base AS (SELECT vid, v FROM corpus ORDER BY vid LIMIT 16),
        |bk AS (
        |  SELECT j, row_number() OVER (PARTITION BY j ORDER BY vid) AS p,
        |    v[j*4+1 : j*4+4] AS centv
        |  FROM base CROSS JOIN js),
        |books AS (SELECT list(centv ORDER BY j, p) AS bks FROM bk),
        |codes AS (
        |  SELECT vid, list(code ORDER BY j) AS codes FROM (
        |    SELECT vid, j, p AS code FROM (
        |      SELECT c.vid, b.j, b.p, row_number() OVER (
        |        PARTITION BY c.vid, b.j
        |        ORDER BY list_dot_product(b.centv, b.centv)
        |          - 2.0 * list_dot_product(c.v[b.j*4+1 : b.j*4+4], b.centv),
        |          b.p) AS rk
        |      FROM corpus c CROSS JOIN bk b)
        |    WHERE rk = 1)
        |  GROUP BY vid),
        |scored AS (
        |  SELECT q.vid AS query_id, c.vid,
        |    list_dot_product(
        |      list_transform(range(0, 16), j ->
        |        list_dot_product(q.v[j*4+1 : j*4+4], bks[j*16 + codes[j+1]])),
        |      list_transform(range(0, 16), j -> 1.0)) AS score
        |  FROM (SELECT * FROM corpus WHERE vid < 5) q
        |  JOIN codes c ON c.vid <> q.vid
        |  CROSS JOIN books)
        |SELECT query_id, neighbor_id, score, rk FROM (
        |  SELECT query_id, vid AS neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vid) AS rk
        |  FROM scored)
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    // IVF+PQ composed: the ivf oracle's assigned/probed CTEs feed the pq
    // oracle's books/codes/ADC CTEs — bucket choice, code choice, and
    // scoring all replayed with the same IEEE sequences as the parents.
    "knn_ivfpq_topk" ->
      s"""WITH $ivfPqScoredCtes
        |SELECT query_id, neighbor_id, score, rk FROM (
        |  SELECT query_id, vid AS neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vid) AS rk
        |  FROM scored)
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    // The refined flavor (r14): the SAME ADC pipeline selects the
    // top-50 candidates per query (score DESC, vid — the Spark window's
    // exact tiebreak), then the exact cosine over the candidates' RAW
    // vectors re-ranks to the final 10. Both leg's orderings are pure
    // IEEE-double functions of the data, so the replay is exact.
    "knn_ivfpq_refined_topk" ->
      s"""WITH $ivfPqScoredCtes,
        |adc AS (
        |  SELECT query_id, vid,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vid) AS rk
        |  FROM scored),
        |refined AS (
        |  SELECT a.query_id, a.vid,
        |    CASE WHEN qn.nv * cn.nv > 0
        |         THEN list_dot_product(qn.v, cn.v) / (qn.nv * cn.nv) END AS cosine
        |  FROM (SELECT * FROM adc WHERE rk <= 50) a
        |  JOIN corpus cn ON cn.vid = a.vid
        |  JOIN corpus qn ON qn.vid = a.query_id)
        |SELECT query_id, neighbor_id, cosine, rk FROM (
        |  SELECT query_id, vid AS neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vid) AS rk
        |  FROM refined)
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // sign-signature buckets, candidate join across tables, exact-cosine
    // verification, per-query top-10. Identical arithmetic order —
    // weights, dots, and pow(2, p) are the same IEEE double ops.
    "knn_lsh_topk" -> lshTopkSql(probesSql = "0"),

    // The margin-ranked multi-probe variant: the oracle additionally
    // replays, per (query, table), the |dot| ranking of the planes and
    // the XOR bucket fan-out — the probe sequence itself is gated.
    // nbits - 4 ≡ Knn.autoProbes(B) for every B the autoBits floor can
    // produce (B >= 6) — 2 at every gate corpus, scaling with the
    // width past it (r13, probe 20e).
    "knn_lsh_mp_topk" -> lshTopkSql(probesSql = "(SELECT nbits - 4 FROM nb)"),

    "text_langid" -> {
      val perLang = TextFunctions.LangMarkers.toSeq.sortBy(_._1).map {
        case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"""SELECT doc_id, lang, '$lang' AS cand,
             |    len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains($list, t))) AS hits FROM documents""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH scored AS (
         |  $perLang),
         |best AS (
         |  SELECT doc_id, lang, cand, hits,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand DESC) AS rk
         |  FROM scored)
         |SELECT doc_id, lang,
         |  CASE WHEN hits > 0 THEN cand ELSE 'und' END AS lang_pred
         |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin
    },

    // Replays the LEARNED langid end-to-end: char-bigram extraction →
    // md5 buckets → add-1-smoothed per-lang log-probs over the full
    // lang×bucket spine → priors → decimal score sums → (score desc,
    // lang desc) argmax, with the no-evidence docs re-attached as
    // 'und'. Every ln rounded at 8, terms rounded at 8 before the
    // DECIMAL(28,10) sum, final score rounded at 6 — LangModel's float
    // discipline verbatim.
    "text_langid_model" ->
      s"""WITH $langidCtes
        |SELECT d.doc_id, d.lang, COALESCE(b.pred, 'und') AS lang_pred, b.score
        |FROM documents d
        |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_embedding_pairs" ->
      """SELECT id_a, id_b, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
        |         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_lsh" -> {
      // Same md5-derived plane/signature machinery as the knn_lsh_topk
      // oracle; here the candidate join is the bucket SELF-join and the
      // verify is the thresholded exact cosine. The signature WIDTH is
      // not pinned (r12): `nb` derives B = max(6, ceil(log2(n/32)))
      // from count(*) — the library's adaptive rule
      // (Dedup.embeddingLshPairs), so the oracle replays the geometry
      // the registered query actually runs at ANY corpus size instead
      // of freezing the one that matched at 2k vectors. The md5 plane
      // weights depend only on (t, p, d), so B decides how many planes
      // exist, never their values. (Cross-engine boundary analysis on
      // the shared lshNbCte: the Scala side is integer-exact and float
      // log2 matches it everywhere practical, exactly at powers of two.)
      // The TABLE count is not pinned either (r14): `nt` derives
      // T = max(24, tablesFor(0.9, B, 0.95)) from the same nb CTE —
      // the library's auto-T rule (Knn.autoTables), which closes the
      // r13 envelope (fixed T=24 under-recalled the 0.95/cosine-0.9
      // design point past B=13 ≈ 262k vectors). 24 at every gate
      // scale, so fixture results are unchanged.
      val D = 64
      s"""WITH $lshNbCte,
         |$lshNtCte,
         |planes AS (
         |  SELECT CAST(i // nbits AS INT) AS t, CAST(i % nbits AS INT) AS p,
         |    list(w ORDER BY d) AS w
         |  FROM (
         |    SELECT i, d, nbits,
         |      (('0x' || substr(md5('lsh:' || (i // nbits) || ':' || (i % nbits) || ':' || d), 1, 13))::BIGINT
         |        / 4503599627370496.0) * 2.0 - 1.0 AS w
         |    FROM (SELECT unnest(range(ntables * nbits)) AS i, nbits FROM nb, nt)
         |    CROSS JOIN (SELECT unnest(range($D)) AS d))
         |  GROUP BY 1, 2),
         |vecs AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
         |  FROM embeddings),
         |sigs AS (
         |  SELECT vec_id, t,
         |    SUM(CASE WHEN list_dot_product(v, w) >= 0
         |        THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM vecs CROSS JOIN planes GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM sigs x JOIN sigs y
         |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT id_a, id_b,
         |    CASE WHEN a.nv * b.nv > 0
         |         THEN list_dot_product(a.v, b.v) / (a.nv * b.nv) END AS cosine
         |  FROM cand JOIN vecs a ON a.vec_id = id_a
         |  JOIN vecs b ON b.vec_id = id_b)
         |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin
    },

    "dedup_embedding_incremental" -> {
      // T=8 tables x B=12-bit signatures (the ingest-tuned setting —
      // no verify stage, so buckets must be precise); same md5 plane
      // derivation as the LSH pairs/search oracles.
      val T = 8; val B = 12; val D = 64
      s"""WITH planes AS (
         |  SELECT CAST(i // $B AS INT) AS t, CAST(i % $B AS INT) AS p,
         |    list(w ORDER BY d) AS w
         |  FROM (
         |    SELECT i, d,
         |      (('0x' || substr(md5('lsh:' || (i // $B) || ':' || (i % $B) || ':' || d), 1, 13))::BIGINT
         |        / 4503599627370496.0) * 2.0 - 1.0 AS w
         |    FROM (SELECT unnest(range(${T * B})) AS i)
         |    CROSS JOIN (SELECT unnest(range($D)) AS d))
         |  GROUP BY 1, 2),
         |vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sigs AS (
         |  SELECT vec_id, t,
         |    SUM(CASE WHEN list_dot_product(v, w) >= 0
         |        THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM vecs CROSS JOIN planes GROUP BY 1, 2),
         |corpus_buckets AS (
         |  SELECT DISTINCT t, bucket FROM sigs WHERE vec_id % 4 <> 0),
         |batch_sigs AS (
         |  SELECT vec_id, t, bucket FROM sigs WHERE vec_id % 4 = 0),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id FROM batch_sigs b
         |  JOIN corpus_buckets c ON b.t = c.t AND b.bucket = c.bucket
         |  UNION
         |  SELECT DISTINCT y.vec_id FROM batch_sigs x
         |  JOIN batch_sigs y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id % 4 = 0 AND vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY vec_id""".stripMargin
    },

    "dedup_semantic" ->
      """WITH corpus AS (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
        |  FROM embeddings),
        |cents AS (
        |  SELECT vid AS centroid_id, v AS centv, nv AS nc
        |  FROM corpus ORDER BY vid LIMIT 16),
        |assigned AS (
        |  SELECT vid, v, nv, bucket FROM (
        |    SELECT vid, v, nv, centroid_id AS bucket,
        |      row_number() OVER (PARTITION BY vid ORDER BY
        |        CASE WHEN nv * nc > 0 THEN list_dot_product(v, centv) / (nv * nc) END
        |          DESC, centroid_id) AS rk
        |    FROM corpus CROSS JOIN cents)
        |  WHERE rk = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vid FROM assigned a JOIN assigned b
        |    ON a.bucket = b.bucket AND a.vid < b.vid
        |  WHERE CASE WHEN a.nv * b.nv > 0
        |    THEN list_dot_product(a.v, b.v) / (a.nv * b.nv) END >= 0.4)
        |SELECT vid, bucket FROM assigned
        |WHERE vid NOT IN (SELECT vid FROM dropped)
        |ORDER BY vid""".stripMargin,

    // Replays the TRAINED SemDeDup end-to-end — the r8 replayable
    // k-means tier: md5-52bit Bernoulli sample (ceil(cap·2^52/n)
    // cutoff in HUGEINT, degenerate-draw fallback included), smallest-
    // vid init, then each Lloyd's iteration as one chained CTE layer —
    // the l2 argmin replayed BIT-EXACT via list_reduce (the same
    // left-to-right acc += d² fold as the native SquaredDistance
    // kernel, ties on centroid_id), the centroid means as
    // DECIMAL(28,10) sums / count rounded at 8 — and finally the
    // dedup_semantic assignment + pair-drop tail against the trained
    // centroids. MATERIALIZED is load-bearing (chained CTEs inline
    // exponentially otherwise — see text_bpe_merges).
    "dedup_semantic_trained" -> {
      val iters = 3
      def l2(v: String, c: String) =
        s"""list_reduce(list_prepend(0.0, list_transform(
           |        range(1, len($v) + 1),
           |        j -> ($v[j] - $c[j]) * ($v[j] - $c[j]))),
           |        (acc, x) -> acc + x)""".stripMargin
      val sb = new StringBuilder
      sb ++= """WITH corpus AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
        |  FROM embeddings),
        |params AS MATERIALIZED (
        |  SELECT GREATEST(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM corpus),
        |samp0 AS MATERIALIZED (
        |  SELECT c.vid, c.v FROM corpus c CROSS JOIN params p
        |  WHERE 256 * p.k >= p.n
        |     OR ('0x' || substr(md5(c.vid::VARCHAR || ':km-v1'), 1, 13))::BIGINT
        |        < (CAST(256 * p.k AS HUGEINT) * 4503599627370496 + p.n - 1) // p.n),
        |samp AS MATERIALIZED (
        |  SELECT vid, v FROM samp0
        |  WHERE (SELECT count(*) FROM samp0) >= (SELECT k FROM params)
        |  UNION ALL
        |  SELECT vid, v FROM corpus
        |  WHERE (SELECT count(*) FROM samp0) < (SELECT k FROM params)),
        |c0 AS MATERIALIZED (
        |  SELECT vid AS centroid_id, v AS centv FROM (
        |    SELECT vid, v, row_number() OVER (ORDER BY vid) AS rn FROM samp)
        |  WHERE rn <= (SELECT k FROM params))""".stripMargin
      for (i <- 1 to iters) {
        sb ++= s""",
          |a$i AS MATERIALIZED (
          |  SELECT vid, v, centroid_id FROM (
          |    SELECT s.vid, s.v, c.centroid_id,
          |      row_number() OVER (PARTITION BY s.vid ORDER BY
          |        ${l2("s.v", "c.centv")} ASC, c.centroid_id ASC) AS rk
          |    FROM samp s CROSS JOIN c${i - 1} c)
          |  WHERE rk = 1),
          |c$i AS MATERIALIZED (
          |  SELECT centroid_id, list(m ORDER BY pos) AS centv FROM (
          |    SELECT centroid_id, pos,
          |      round(CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
          |            / CAST(COUNT(*) AS DOUBLE), 8) AS m
          |    FROM (SELECT centroid_id, unnest(v) AS x,
          |                 unnest(range(1, len(v) + 1)) AS pos FROM a$i)
          |    GROUP BY 1, 2)
          |  GROUP BY centroid_id)""".stripMargin
      }
      sb ++= s"""
        |, cents AS MATERIALIZED (
        |  SELECT centroid_id, centv,
        |    sqrt(list_dot_product(centv, centv)) AS nc FROM c$iters),
        |assigned AS MATERIALIZED (
        |  SELECT vid, v, nv, bucket FROM (
        |    SELECT vid, v, nv, centroid_id AS bucket,
        |      row_number() OVER (PARTITION BY vid ORDER BY
        |        CASE WHEN nv * nc > 0 THEN list_dot_product(v, centv) / (nv * nc) END
        |          DESC, centroid_id) AS rk
        |    FROM corpus CROSS JOIN cents)
        |  WHERE rk = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vid FROM assigned a JOIN assigned b
        |    ON a.bucket = b.bucket AND a.vid < b.vid
        |  WHERE CASE WHEN a.nv * b.nv > 0
        |    THEN list_dot_product(a.v, b.v) / (a.nv * b.nv) END >= 0.4)
        |SELECT vid, bucket FROM assigned
        |WHERE vid NOT IN (SELECT vid FROM dropped)
        |ORDER BY vid""".stripMargin
      sb.toString
    },

    "docs_pack_chunks" ->
      s"""WITH $packChunkCtes
        |SELECT doc_id, chunk_id, tok_from, tok_to, n_toks
        |FROM packed ORDER BY doc_id, chunk_id""".stripMargin,

    // Replays the shard manifest over the SAME packed CTE: the 52-bit
    // md5 key hash (the engine's one replayed hash family) drives both
    // the shard assignment and the order-invariant checksum; DuckDB
    // sums widen to HUGEINT, so the mod-2^52 fold and the BIGINT casts
    // are exact on both sides.
    "docs_shard_manifest" ->
      s"""WITH $packChunkCtes,
        |h AS (
        |  SELECT n_toks, ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
        |    chunk_id::VARCHAR || ':shard-v1'), 1, 13))::BIGINT AS h
        |  FROM packed)
        |SELECT h % 8 AS shard_id, count(*) AS n_seqs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(CAST(sum(h) AS HUGEINT) % 4503599627370496 AS BIGINT)
        |    AS checksum
        |FROM h GROUP BY shard_id ORDER BY shard_id""".stripMargin,

    // The span identity is its whitespace-normalized lowercase form; the
    // oracle partitions by that STRING directly, so it is agnostic to the
    // engine's choice of digest (xxhash64∥murmur3 below the exchange) —
    // the partitions coincide unless the engine suffers a 96-bit
    // collision. Both output columns are exact integers (sum cast back
    // to BIGINT — DuckDB widens integer sums to HUGEINT).
    "dedup_span_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |spans AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(tk[i+1 : i+10], ' ')
        |            FOR i IN range(0, len(tk) - 9)]) AS span
        |  FROM toks),
        |occ AS (
        |  SELECT doc_id, count(*) OVER (
        |    PARTITION BY regexp_replace(trim(lower(span)), '\s+', ' ', 'g')) AS c
        |  FROM spans)
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Chunk count is exact integer ceil-div; chunk text is 1-based
    // inclusive list slicing, ragged tail included.
    "docs_overlap_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |chunks AS (
        |  SELECT doc_id,
        |    unnest([{'chunk_idx': i,
        |             'chunk_text': array_to_string(tk[i*48+1 : i*48+64], ' ')}
        |      FOR i IN range(0, 1 + CASE WHEN len(tk) > 64
        |        THEN (len(tk) - 64 + 47) // 48 ELSE 0 END)], recursive := true)
        |  FROM toks)
        |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, chunk_text,
        |  CAST(len(string_split(chunk_text, ' ')) AS INTEGER) AS n_toks
        |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,

    // pow is the only transcendental: both engines round the rank at 6
    // decimals immediately, then the top-3 order is exact (rank DESC,
    // doc_id) — the temperatureMixture precedent.
    "docs_weighted_k" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    round(pow((('0x' || substr(md5(doc_id::VARCHAR || ':wk-v1'), 1, 13))::BIGINT
        |      / 4503599627370496.0), 1.0 / n_chars), 6) AS rk
        |  FROM documents WHERE n_chars > 0),
        |q AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY rk DESC, doc_id) AS rn
        |  FROM r)
        |SELECT doc_id, source, n_chars FROM q WHERE rn <= 3
        |ORDER BY doc_id""".stripMargin,

    "docs_length_weighted" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE (('0x' || substr(md5(doc_id::VARCHAR || ':lenw-v1'), 1, 13))::BIGINT
        |       / 4503599627370496.0) < least(1.0, n_chars / 2000.0)
        |ORDER BY doc_id""".stripMargin,

    // Replays negativesK: dense index in id order, 52-bit md5 hash of
    // id:j:salt mod (n-1), self-index skipped by the >=-shift, join back
    // on the drawn index.
    "docs_negatives_k" ->
      """WITH ids AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS idx
        |  FROM documents WHERE doc_id IS NOT NULL),
        |n AS (SELECT COUNT(*) AS n FROM ids),
        |draws AS (
        |  SELECT doc_id AS anchor_id, idx AS ai, unnest([1, 2]) AS j
        |  FROM ids),
        |hx AS (
        |  SELECT anchor_id, ai, j,
        |    ('0x' || substr(md5(anchor_id::VARCHAR || ':' || j::VARCHAR
        |       || ':neg-v1'), 1, 13))::BIGINT % (n.n - 1) AS r
        |  FROM draws CROSS JOIN n),
        |pick AS (
        |  SELECT anchor_id, j,
        |    CASE WHEN r >= ai THEN r + 1 ELSE r END AS ni
        |  FROM hx)
        |SELECT p.anchor_id, p.j, i.doc_id AS negative_id
        |FROM pick p JOIN ids i ON i.idx = p.ni
        |ORDER BY p.anchor_id, p.j""".stripMargin,

    "multimodal_bytes" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS head_byte
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0)
        |SELECT doc_id, CAST(i AS INTEGER) AS frame_no,
        |  md5(substr(text, CAST(i * 96 + 1 AS INTEGER), 32)) AS frame_md5
        |FROM f, LATERAL unnest(range(0, (n + 95) // 96)) AS t(i)
        |ORDER BY doc_id, frame_no""".stripMargin,

    "events_tumbling_hour" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // Replays rollingZScore term for term: exact decimal frame sums cast
    // to double once, then identical IEEE arithmetic; z rounded at 6
    // right after the one sqrt (the unigram-logprob discipline).
    "events_anomaly" -> rollingZScoreOracle,

    "events_funnel" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS v,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS c,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
        |  FROM events GROUP BY user_id)
        |SELECT count(v) AS n_view,
        |  count(CASE WHEN c > v THEN 1 END) AS n_view_click,
        |  count(CASE WHEN c > v AND p > c THEN 1 END) AS n_view_click_purchase
        |FROM firsts""".stripMargin,

    "events_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY user_id)
        |SELECT cohort, CAST(e.d - f.cohort AS INTEGER) AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY cohort, day_offset ORDER BY cohort, day_offset""".stripMargin,

    // Replays Decay.decayedSum: exact micros delta, one double divide,
    // one exp rounded at 8 after the value multiply, DECIMAL(28,10) sum,
    // final round 4. ln2 is the shared literal, never a libm ln call.
    "events_decayed_sum" ->
      """WITH h AS (SELECT max(ts) AS t_max FROM events),
        |t AS (SELECT user_id,
        |    CAST(round(value * exp(-0.6931471805599453 *
        |      (CAST(epoch_us(h.t_max) - epoch_us(ts) AS DOUBLE) / 3600000000.0)
        |      / 24.0), 8) AS DECIMAL(28,10)) AS dv
        |  FROM events CROSS JOIN h)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(round(SUM(dv), 4) AS DOUBLE) AS decayed_sum
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS cur_type, COUNT(*) AS n_transitions
        |FROM seq WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, cur_type
        |ORDER BY prev_type, cur_type""".stripMargin,

    "docs_token_histogram" ->
      """WITH t AS (SELECT source,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT source, CAST(length(bin(nt)) AS INTEGER) AS bucket_bits,
        |  COUNT(*) AS n_docs, min(nt) AS min_tokens, max(nt) AS max_tokens
        |FROM t GROUP BY source, bucket_bits
        |ORDER BY source, bucket_bits""".stripMargin,

    "events_gapfill" ->
      """WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
        |counts AS (SELECT h, event_type, count(*) AS n FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM ev)
        |SELECT spine.h AS hour, types.event_type AS event_type, COALESCE(n, 0) AS n
        |FROM spine CROSS JOIN types
        |LEFT JOIN counts ON counts.h = spine.h
        |  AND counts.event_type IS NOT DISTINCT FROM types.event_type
        |ORDER BY hour, event_type""".stripMargin,

    "events_sliding" ->
      """SELECT window_start, event_type, COUNT(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS window_start,
        |    event_type
        |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "events_asof_join" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id AS tb, 0 AS side,
        |    value AS rv, event_id AS re,
        |    CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS DOUBLE) AS value
        |  FROM events WHERE event_type = 'view'),
        |l AS (
        |  SELECT user_id, ts, event_id AS tb, 1 AS side,
        |    CAST(NULL AS DOUBLE) AS rv, CAST(NULL AS BIGINT) AS re,
        |    event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |f AS (
        |  SELECT *,
        |    last_value(re IGNORE NULLS) OVER w AS fe,
        |    last_value(rv IGNORE NULLS) OVER w AS fv
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, tb
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, ts, user_id, value,
        |  fe AS last_view_event, fv AS last_view_value
        |FROM f WHERE side = 1 ORDER BY event_id""".stripMargin,

    // Mirror of the forward as-of union-merge: scan DESC so last_value
    // IGNORE NULLS is the earliest right row at/after; tolerance gates
    // the filled values back to NULL.
    "events_asof_forward" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id AS tb, 0 AS side,
        |    value AS rv, event_id AS re, ts AS rts,
        |    CAST(NULL AS BIGINT) AS event_id
        |  FROM events WHERE event_type = 'purchase'),
        |l AS (
        |  SELECT user_id, ts, event_id AS tb, 1 AS side,
        |    CAST(NULL AS DOUBLE) AS rv, CAST(NULL AS BIGINT) AS re,
        |    CAST(NULL AS TIMESTAMP) AS rts, event_id
        |  FROM events WHERE event_type = 'view'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |f AS (
        |  SELECT *,
        |    last_value(re IGNORE NULLS) OVER w AS fe,
        |    last_value(rv IGNORE NULLS) OVER w AS fv,
        |    last_value(rts IGNORE NULLS) OVER w AS fts
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, side, tb DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, ts, user_id,
        |  CASE WHEN fts <= ts + INTERVAL 30 MINUTE THEN fe END AS next_purchase_event,
        |  CASE WHEN fts <= ts + INTERVAL 30 MINUTE THEN fv END AS next_purchase_value
        |FROM f WHERE side = 1 ORDER BY event_id""".stripMargin,

    "docs_stratified_k" ->
      """WITH h AS (SELECT doc_id, source,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 13))::BIGINT
        |      / 4503599627370496.0) AS u
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 5
        |ORDER BY source, doc_id""".stripMargin,

    "dedup_incremental" ->
      """WITH corpus_fp AS (
        |  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE source = 'src0' AND text IS NOT NULL),
        |batch AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE source <> 'src0'),
        |first_per_fp AS (
        |  SELECT doc_id, source, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM batch)
        |SELECT doc_id, source FROM first_per_fp
        |WHERE (fp IS NULL OR (rn = 1 AND fp NOT IN (SELECT fp FROM corpus_fp)))
        |ORDER BY doc_id""".stripMargin,

    "dedup_minhash_incremental" -> {
      // Same md5-affine signature machinery as the dedup_minhash_pairs
      // oracle; here the banded buckets split into corpus (src0) keys
      // and batch rows, and a batch doc drops on an index hit or a
      // smaller-id batch bucket partner (one-hop, min-id-wins).
      val sigCols = (0 until 32).map { i =>
        val a = (2654435761L * (i + 1)) % 1073741824L + 1
        s"""list_min(list_transform(shset,
           |      s -> ($a * (('0x' || substr(md5(s), 1, 7))::BIGINT) + $i) % 2147483647)) AS m$i""".stripMargin
      }.mkString(",\n    ")
      val bandSelects = (0 until 8).map { b =>
        val key = (0 until 4).map(r => s"m${b * 4 + r}").mkString("[", ", ", "]")
        s"SELECT id, source, $b AS band, $key AS bh FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH sets AS (
         |  SELECT doc_id AS id, source, list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]) AS shset
         |  FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents)
         |  WHERE len(toks) >= 3),
         |sig AS (
         |  SELECT id, source, shset,
         |    $sigCols
         |  FROM sets),
         |banded AS (
         |  $bandSelects),
         |corpus_buckets AS (
         |  SELECT DISTINCT band, bh FROM banded WHERE source = 'src0'),
         |batch_banded AS (
         |  SELECT id, band, bh FROM banded WHERE source <> 'src0'),
         |dropped AS (
         |  SELECT DISTINCT b.id FROM batch_banded b
         |  JOIN corpus_buckets c ON b.band = c.band AND b.bh = c.bh
         |  UNION
         |  SELECT DISTINCT y.id FROM batch_banded x
         |  JOIN batch_banded y ON x.band = y.band AND x.bh = y.bh AND x.id < y.id)
         |SELECT doc_id, source FROM documents
         |WHERE source <> 'src0' AND doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY doc_id""".stripMargin
    },

    // The streaming anomaly leg shares the batch form's replay VERBATIM
    // (the same val) — digit-for-digit batch ≡ stream is the point, and
    // one definition referenced twice cannot drift.
    "stream_anomaly" -> rollingZScoreOracle,

    // Delta-fold ≡ whole-history aggregate (exact decimal partials), so
    // the oracle is the plain grouped sum.
    "stream_rollup_batches" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Replays Decay.decayedSumStream's deterministic fold: each key's
    // events sorted by (ts, event_id), list_reduce's first element as
    // the init state (exactly the fold's first-event case: (value, ts)),
    // then per step ONE rounded libm call — round(pow(2, -Δµs/hl), 8) —
    // times the running sum plus the value. The remaining multiply and
    // add are single IEEE ops, bit-identical across engines given
    // identical operands, so the raw double chain hash-matches.
    "stream_decay" ->
      """WITH ev AS (
        |  SELECT user_id AS key, epoch_us(ts) AS t,
        |    COALESCE(value, 0.0) AS v, event_id
        |  FROM events),
        |g AS (
        |  SELECT key, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    max(t) AS at_micros,
        |    list(struct_pack(s := v, last := t) ORDER BY t, event_id) AS evs
        |  FROM ev GROUP BY key)
        |SELECT key, n_events,
        |  list_reduce(evs, (acc, x) -> struct_pack(
        |    s := round(pow(2.0, -CAST(x.last - acc.last AS DOUBLE)
        |                    / 86400000000.0), 8) * acc.s + x.s,
        |    last := x.last)).s AS decayed_sum,
        |  at_micros
        |FROM g ORDER BY key""".stripMargin,

    "stream_ingest_batches" ->
      """WITH b AS (
        |  SELECT doc_id, source, doc_id % 4 AS bno,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY bno, doc_id) AS rn
        |  FROM b)
        |SELECT doc_id, source FROM r WHERE fp IS NULL OR rn = 1
        |ORDER BY doc_id""".stripMargin,

    // Replays the four-batch NEAR-dup ingest chain: the md5-affine
    // signature/banding machinery (the dedup_minhash_incremental
    // convention), then each batch as one chained CTE layer — drop on a
    // bucket-key hit against the running index (earlier batches'
    // SURVIVORS only) or a smaller-id same-batch bucket partner, fold
    // the batch's surviving buckets into the index. Docs without
    // shingles (null/short text) have no buckets and always survive.
    // MATERIALIZED is load-bearing on chained CTEs (see
    // text_bpe_merges).
    "stream_neardup_batches" -> {
      val sigCols = (0 until 32).map { i =>
        val a = (2654435761L * (i + 1)) % 1073741824L + 1
        s"""list_min(list_transform(shset,
           |      s -> ($a * (('0x' || substr(md5(s), 1, 7))::BIGINT) + $i) % 2147483647)) AS m$i""".stripMargin
      }.mkString(",\n    ")
      val bandSelects = (0 until 8).map { b =>
        val key = (0 until 4).map(r => s"m${b * 4 + r}").mkString("[", ", ", "]")
        s"SELECT id, bno, $b AS band, $key AS bh FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      val sb = new StringBuilder
      sb ++= s"""WITH sets AS MATERIALIZED (
         |  SELECT doc_id AS id, doc_id % 4 AS bno, list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]) AS shset
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
         |  WHERE len(toks) >= 3),
         |sig AS MATERIALIZED (
         |  SELECT id, bno, shset,
         |    $sigCols
         |  FROM sets),
         |banded AS MATERIALIZED (
         |  $bandSelects),
         |i0 AS (SELECT band, bh FROM banded WHERE 1 = 0)""".stripMargin
      for (b <- 0 to 3) {
        sb ++= s""",
          |d$b AS MATERIALIZED (
          |  SELECT DISTINCT x.id FROM banded x
          |  JOIN i$b i ON x.band = i.band AND x.bh = i.bh
          |  WHERE x.bno = $b
          |  UNION
          |  SELECT DISTINCT y.id FROM banded x
          |  JOIN banded y ON x.band = y.band AND x.bh = y.bh
          |    AND x.id < y.id AND x.bno = $b AND y.bno = $b),
          |s$b AS MATERIALIZED (
          |  SELECT doc_id, source FROM documents
          |  WHERE doc_id % 4 = $b AND doc_id NOT IN (SELECT id FROM d$b))""".stripMargin
        if (b < 3) sb ++= s""",
          |i${b + 1} AS MATERIALIZED (
          |  SELECT band, bh FROM i$b
          |  UNION
          |  SELECT DISTINCT band, bh FROM banded
          |  WHERE bno = $b AND id IN (SELECT doc_id FROM s$b))""".stripMargin
      }
      sb ++= """
        |SELECT doc_id, source FROM (
        |  SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |  UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |ORDER BY doc_id""".stripMargin
      sb.toString
    },

    // Replays the four-batch EMBEDDING near-dup ingest chain: the
    // dedup_embedding_incremental plane/signature machinery (T=8,
    // B=12-bit md5-derived planes), then each batch as one chained CTE
    // layer — drop on a signature-key hit against the running index
    // (earlier batches' survivors) or a smaller-id same-batch bucket
    // partner, fold the batch's surviving keys forward.
    "stream_embdup_batches" -> {
      val T = 8; val B = 12; val D = 64
      val sb = new StringBuilder
      sb ++= s"""WITH planes AS MATERIALIZED (
         |  SELECT CAST(i // $B AS INT) AS t, CAST(i % $B AS INT) AS p,
         |    list(w ORDER BY d) AS w
         |  FROM (
         |    SELECT i, d,
         |      (('0x' || substr(md5('lsh:' || (i // $B) || ':' || (i % $B) || ':' || d), 1, 13))::BIGINT
         |        / 4503599627370496.0) * 2.0 - 1.0 AS w
         |    FROM (SELECT unnest(range(${T * B})) AS i)
         |    CROSS JOIN (SELECT unnest(range($D)) AS d))
         |  GROUP BY 1, 2),
         |vecs AS (SELECT vec_id, vec_id % 4 AS bno, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |sigs AS MATERIALIZED (
         |  SELECT vec_id, bno, t,
         |    SUM(CASE WHEN list_dot_product(v, w) >= 0
         |        THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM vecs CROSS JOIN planes GROUP BY 1, 2, 3),
         |i0 AS (SELECT t, bucket FROM sigs WHERE 1 = 0)""".stripMargin
      for (b <- 0 to 3) {
        sb ++= s""",
          |d$b AS MATERIALIZED (
          |  SELECT DISTINCT x.vec_id FROM sigs x
          |  JOIN i$b i ON x.t = i.t AND x.bucket = i.bucket
          |  WHERE x.bno = $b
          |  UNION
          |  SELECT DISTINCT y.vec_id FROM sigs x
          |  JOIN sigs y ON x.t = y.t AND x.bucket = y.bucket
          |    AND x.vec_id < y.vec_id AND x.bno = $b AND y.bno = $b),
          |s$b AS MATERIALIZED (
          |  SELECT vec_id FROM embeddings
          |  WHERE vec_id % 4 = $b
          |    AND vec_id NOT IN (SELECT vec_id FROM d$b))""".stripMargin
        if (b < 3) sb ++= s""",
          |i${b + 1} AS MATERIALIZED (
          |  SELECT t, bucket FROM i$b
          |  UNION
          |  SELECT DISTINCT t, bucket FROM sigs
          |  WHERE bno = $b AND vec_id IN (SELECT vec_id FROM s$b))""".stripMargin
      }
      sb ++= """
        |SELECT vec_id FROM (
        |  SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |  UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |ORDER BY vec_id""".stripMargin
      sb.toString
    },

    "events_interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS delay_us
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        |  AND v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
        |ORDER BY view_id, click_id""".stripMargin,

    // Same preceding-rows frame, IGNORE NULLS picks the first/last
    // touch; decimal-sum value parity (the dsum convention).
    "events_attribution" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    first_value(CASE WHEN event_type IN ('click','view','signup')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fc,
        |    last_value(CASE WHEN event_type IN ('click','view','signup')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc
        |  FROM events),
        |conv AS (
        |  SELECT COALESCE(fc, 'none') AS fc, COALESCE(lc, 'none') AS lc, value
        |  FROM t WHERE event_type = 'purchase'),
        |f AS (
        |  SELECT fc AS channel, count(*) AS n_first,
        |    CAST(round(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |      AS value_first
        |  FROM conv GROUP BY fc),
        |l AS (
        |  SELECT lc AS channel, count(*) AS n_last,
        |    CAST(round(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |      AS value_last
        |  FROM conv GROUP BY lc)
        |SELECT channel,
        |  COALESCE(n_first, 0) AS n_first,
        |  COALESCE(value_first, 0.0) AS value_first,
        |  COALESCE(n_last, 0) AS n_last,
        |  COALESCE(value_last, 0.0) AS value_last
        |FROM f FULL OUTER JOIN l USING (channel) ORDER BY channel""".stripMargin,

    // Exact bin counts, Laplace-smoothed fractions, one rounded term
    // per bin — every float step a single IEEE op on both engines.
    "events_drift_psi" ->
      """WITH p AS (
        |  SELECT ts, value FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |    AND NOT isnan(value)),
        |eb AS (
        |  SELECT CAST(least(9, greatest(0,
        |    floor((value - 0.0) / 50.0))) AS INTEGER) AS bin
        |  FROM p WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |ab AS (
        |  SELECT CAST(least(9, greatest(0,
        |    floor((value - 0.0) / 50.0))) AS INTEGER) AS bin
        |  FROM p WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |ec AS (SELECT bin, count(*) AS n FROM eb GROUP BY bin),
        |ac AS (SELECT bin, count(*) AS n FROM ab GROUP BY bin),
        |spine AS (SELECT CAST(unnest(range(10)) AS INTEGER) AS bin),
        |j AS (
        |  SELECT s.bin, COALESCE(ec.n, 0) AS n_expected,
        |    COALESCE(ac.n, 0) AS n_actual
        |  FROM spine s LEFT JOIN ec ON ec.bin = s.bin
        |  LEFT JOIN ac ON ac.bin = s.bin),
        |tt AS (SELECT sum(n_expected) AS te, sum(n_actual) AS ta FROM j)
        |SELECT bin, n_expected, n_actual,
        |  CAST(n_expected + 1 AS DOUBLE) / CAST(te + 10 AS DOUBLE)
        |    AS frac_expected,
        |  CAST(n_actual + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)
        |    AS frac_actual,
        |  round((CAST(n_actual + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)
        |       - CAST(n_expected + 1 AS DOUBLE) / CAST(te + 10 AS DOUBLE))
        |    * ln((CAST(n_actual + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE))
        |        / (CAST(n_expected + 1 AS DOUBLE) / CAST(te + 10 AS DOUBLE))),
        |    8) AS psi_term
        |FROM j, tt ORDER BY bin""".stripMargin,

    "events_session" -> eventsSessionSql,

    // The batch ≡ stream law under the gate: the streamed session
    // windows (state store, watermark eviction) share the BATCH query's
    // gaps-and-islands oracle verbatim.
    "stream_session" -> eventsSessionSql,
  )

  /** The recall harness oracle COMPOSES the already-declared per-index
    * oracles verbatim (each as a parenthesized subquery): one definition
    * of every index replay, so an index-oracle fix automatically
    * propagates into the recall numbers. */
  val oracles: Map[String, String] = {
    def sub(name: String) =
      s"(SELECT query_id, neighbor_id FROM (${baseOracles(name)}))"
    val recall =
      s"""WITH exact AS ${sub("knn_cosine_topk")},
         |ivf AS ${sub("knn_ivf_topk")},
         |lsh AS ${sub("knn_lsh_topk")},
         |lsh_mp AS ${sub("knn_lsh_mp_topk")},
         |pq AS ${sub("knn_pq_topk")},
         |sq AS ${sub("knn_quantized_topk")},
         |ivfpq AS ${sub("knn_ivfpq_topk")},
         |methods AS (
         |  SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
         |  UNION ALL SELECT 'lsh', query_id, neighbor_id FROM lsh
         |  UNION ALL SELECT 'lsh_mp', query_id, neighbor_id FROM lsh_mp
         |  UNION ALL SELECT 'pq', query_id, neighbor_id FROM pq
         |  UNION ALL SELECT 'sq', query_id, neighbor_id FROM sq
         |  UNION ALL SELECT 'ivfpq', query_id, neighbor_id FROM ivfpq),
         |grid AS (SELECT DISTINCT method FROM methods)
         |SELECT g.method, e.query_id,
         |  CAST(COUNT(m.query_id) AS DOUBLE) / 10.0 AS recall
         |FROM exact e
         |CROSS JOIN grid g
         |LEFT JOIN methods m
         |  ON m.method = g.method AND m.query_id = e.query_id
         |    AND m.neighbor_id = e.neighbor_id
         |GROUP BY g.method, e.query_id
         |ORDER BY g.method, e.query_id""".stripMargin
    baseOracles + ("knn_recall_at_k" -> recall)
  }
}
