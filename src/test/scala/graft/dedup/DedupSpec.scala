package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Tables

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def planted = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    // near-dup of 1: one word changed
    (2L, "the quick brown fox jumps over the lazy cat near the river bank"),
    (3L, "completely different text about spark catalyst optimizer internals"),
    // exact dup of 3 modulo case/whitespace
    (4L, "Completely   different text about spark catalyst optimizer internals"),
    (5L, "unrelated words one two three four five six seven eight nine ten"),
  ).toDF("doc_id", "text")

  test("exactGroups collapses case/whitespace variants to one fingerprint") {
    val groups = Dedup.exactGroups(planted, "text", "doc_id")
      .select("canonical_id", "n_members").as[(Long, Long)].collect().toSet
    assert(groups == Set((1L, 1L), (2L, 1L), (3L, 2L), (5L, 1L)))
  }

  test("exactDedup keeps the minimum-id row per group") {
    val kept = Dedup.exactDedup(planted, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 5L))
  }

  test("exactDedup passes ALL null-text rows through (module null policy)") {
    val withNulls = planted.unionByName(
      Seq((90L, null: String), (91L, null: String)).toDF("doc_id", "text"))
    val kept = Dedup.exactDedup(withNulls, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // Both null-text rows survive — they are not duplicates of each other.
    assert(kept == Set(1L, 2L, 3L, 5L, 90L, 91L))
  }

  test("jaccardPairs finds the planted near-dup and nothing else") {
    val pairs = Dedup.jaccardPairs(planted, "text", "doc_id", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("jaccardPairsPrefix returns exactly the naive jaccardPairs results") {
    val docs = Tables.documents(spark, sf)
    val naive = Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.jaccardPairsPrefix(docs, "text", "doc_id", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(naive.nonEmpty && prefix == naive)
    // Lower threshold too (longer prefixes, more candidates — still exact).
    val naiveLow = Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val prefixLow = Dedup.jaccardPairsPrefix(docs, "text", "doc_id", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(prefixLow == naiveLow)
  }

  test("positional filter keeps a pair at exactly J == threshold (r11)") {
    // 11 tokens, last one differs: 9 shingles each, 8 shared, union 10 —
    // J = 0.8 EXACTLY at the 0.8 threshold. The prefix-length floor and
    // the positional bound 1 + min(n_a − rk_a, n_b − rk_b) ≥
    // τ/(1+τ)·(n_a + n_b) both sit at their boundary here (overlap 8,
    // requirement 0.444×18 = 8.0): any float slop in the conservative
    // direction is fine, slop that loses the pair is a regression this
    // test catches.
    val base = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$base tailx"), (2L, s"$base taily"),
      (3L, "completely different words here with no overlap at all end"),
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardPairsPrefix(docs, "text", "doc_id", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)))
    assert(math.abs(got.head._3 - 0.8) < 1e-12)

    // The FLOAT-ROUNDING shape (r11 review find): at n_a + n_b = 63 the
    // double product τ/(1+τ)·63 = 28.000000000000004 rounds ABOVE the
    // exact rational bound 28, so without the filter's 1e-6 slack this
    // true pair at exactly J = 28/35 = 0.8 was silently dropped (the
    // n_a+n_b=18 case above passes by rounding luck; 63/117/126/135 do
    // not). 30 shared tokens + 3 vs 4 unique tails → 31- and 32-shingle
    // docs sharing 28.
    val base63 = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs63 = Seq(
      (1L, s"$base63 a1 a2 a3"), (2L, s"$base63 b1 b2 b3 b4"),
    ).toDF("doc_id", "text")
    val got63 = Dedup.jaccardPairsPrefix(docs63, "text", "doc_id", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got63.map(p => (p._1, p._2)) == Set((1L, 2L)),
      "true pair at J == τ with n_a+n_b = 63 must survive the positional filter")
    assert(math.abs(got63.head._3 - 0.8) < 1e-12)
  }

  test("minhashPairs recall >= 0.8 vs exact jaccard pairs on the fixture corpus") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashPairs(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // Verification step guarantees precision = 1 (every reported pair
    // passes exact Jaccard); LSH banding only affects recall.
    assert(mh.subsetOf(exact))
    val recall = mh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall over ${exact.size} true pairs")
  }

  test("minhashPairs forced salting (blockRows = 2) == default — both families") {
    // At the default blockRows every fixture bucket holds ≤ 1024 rows,
    // so each gets one block and the band join is the unsalted one;
    // blockRows = 2 puts every bucket of ≥ 3 rows through the
    // triangle-block path. Salting must change nothing: same
    // candidates, same exact-Jaccard values.
    def p(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val docs = Tables.documents(spark, sf)
    val plain = p(Dedup.minhashPairs(docs, "text", "doc_id"))
    assert(plain.nonEmpty)
    assert(p(Dedup.minhashPairs(docs, "text", "doc_id", blockRows = 2)) == plain)
    // Adversarial shape (the planted clique, split into 12 blocks) on
    // the oracle-replayable family.
    val boiler = "accept all cookies to continue to the site please now"
    val skewed = docs.select($"doc_id", $"text").unionByName(
      (0 until 24).map(i => (5000L + i, boiler)).toDF("doc_id", "text"))
    val plainS = p(Dedup.minhashPairs(skewed, "text", "doc_id",
      family = Dedup.md5AffineFamily))
    val saltS = p(Dedup.minhashPairs(skewed, "text", "doc_id",
      family = Dedup.md5AffineFamily, blockRows = 2))
    // The clique alone contributes 24·23/2 = 276 pairs.
    assert(plainS.size >= 276 && saltS == plainS)
  }

  test("simhashPairs finds the planted near-dup pair") {
    val pairs = Dedup.simhashPairs(planted, "text", "doc_id", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 5L)) && !pairs.contains((3L, 5L)))
  }

  test("clusterPairs finds connected components incl. chains") {
    // Components: {1,2,3} via chain 1-2, 2-3; {7,9}; 5 appears in no pair.
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.clusterPairs(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusterPairs distributed path (localEdgeLimit=0) matches the local path") {
    // A 9-long chain exercises the pointer-doubling convergence, plus a
    // separate component and string ids to cover type-generic labels.
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .union(Seq((100L, 101L)).toDF("id_a", "id_b"))
    val local = Dedup.clusterPairs(chain).as[(Long, Long)].collect().toMap
    val dist = Dedup.clusterPairs(chain, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local == ((1L to 10L).map(_ -> 1L) ++ Seq(100L -> 100L, 101L -> 100L)).toMap)

    val strPairs = Seq(("b", "c"), ("a", "b")).toDF("id_a", "id_b")
    val strLocal = Dedup.clusterPairs(strPairs).as[(String, String)].collect().toMap
    val strDist = Dedup.clusterPairs(strPairs, localEdgeLimit = 0L)
      .as[(String, String)].collect().toMap
    assert(strLocal == strDist && strLocal == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("clusterPairs throws instead of returning non-converged labels") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // 39 edges, diameter 39: 2 doubling iterations cannot converge.
    val e = intercept[IllegalStateException] {
      Dedup.clusterPairs(chain, maxIterations = 2, localEdgeLimit = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dropNearDuplicates keeps canonical rows and untouched rows") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "solo"), (7L, "x"), (9L, "y"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L, 7L))
  }

  test("splitLeakageGuard moves straddling clusters whole, leaves the rest") {
    // cluster {1,2,3} straddles train/test; {7,9} already agrees; 5 solo.
    val assign = Seq((1L, "train"), (2L, "test"), (3L, "train"),
      (5L, "test"), (7L, "val"), (9L, "val")).toDF("doc_id", "split")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.splitLeakageGuard(assign, "doc_id", "split", pairs)
      .select("doc_id", "split", "canonical_id", "final_split", "moved")
      .as[(Long, String, Long, String, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "train", 1L, "train", false),
      (2L, "test", 1L, "train", true), // repaired: joins its cluster
      (3L, "train", 1L, "train", false),
      (5L, "test", 5L, "test", false), // unclustered: untouched
      (7L, "val", 7L, "val", false),
      (9L, "val", 7L, "val", false)))
  }

  test("splitLeakageGuard output never has a cluster straddling splits") {
    val docs = Tables.documents(spark, sf)
    val assign = docs.select($"doc_id",
      graft.ops.Sampling.splitColumn($"doc_id", "split-v1",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.8)
    val out = Dedup.splitLeakageGuard(assign, "doc_id", "split", pairs)
    // The repaired law: every canonical_id maps to exactly one
    // final_split, and total row count is preserved.
    val straddling = out.groupBy("canonical_id")
      .agg(countDistinct("final_split").as("n")).filter($"n" > 1).count()
    assert(straddling == 0L)
    assert(out.count() == assign.count())
    // The fixture's planted near-dups make at least one repair likely;
    // assert the guard is a no-op EXACTLY on rows whose cluster already
    // agreed (moved <=> split != final_split, no nulls).
    assert(out.filter($"moved" =!= ($"split" =!= $"final_split")).count() == 0L)
  }

  test("end-to-end near-dup removal on the fixture corpus shrinks it by the planted dups") {
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.8)
    val kept = Dedup.dropNearDuplicates(docs, pairs, "doc_id")
    val removed = docs.count() - kept.count()
    val clusters = Dedup.clusterPairs(pairs)
    val expectedRemoved = clusters.filter($"id" =!= $"canonical_id").count()
    assert(removed == expectedRemoved && removed > 0)
  }

  test("decontaminate drops docs contained in the benchmark, keeps the rest") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // fully in bench
      (2L, "totally unrelated content words here now"),
      (3L, "alpha beta gamma something else entirely different"), // partial
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val ratios = Dedup.contaminationRatio(corpus, bench, "text", "doc_id", 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(ratios(1L) == 1.0)
    assert(ratios(2L) == 0.0)
    assert(ratios(3L) > 0.0 && ratios(3L) < 0.5)
    val kept = Dedup.decontaminate(corpus, bench, "text", "doc_id", 3, 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("clusterPairs local path uses Spark's binary UTF-8 string order") {
    // U+E000 (private use, UTF-8 EE 80 80) vs U+1F600 (emoji, UTF-8
    // F0 9F 98 80): Java's UTF-16 compareTo says emoji < U+E000 (high
    // surrogate 0xD83D < 0xE000) but Spark's UTF8String byte order says
    // U+E000 < emoji. The canonical id must follow Spark's order on BOTH
    // branches or the same input clusters differently by path.
    val emoji = "😀"
    val pua = ""
    assert(emoji.compareTo(pua) < 0, "precondition: UTF-16 disagrees")
    val pairs = Seq((emoji, pua)).toDF("id_a", "id_b")
    val local = Dedup.clusterPairs(pairs).as[(String, String)]
      .collect().toMap
    val dist = Dedup.clusterPairs(pairs, localEdgeLimit = 0L)
      .as[(String, String)].collect().toMap
    assert(local(emoji) == pua && local(pua) == pua)
    assert(local == dist)
  }

  test("clusterPairs drops null-id edges instead of NPEing") {
    val pairs = Seq((Some(1L), None: Option[Long]), (Some(2L), Some(3L)))
      .toDF("id_a", "id_b")
    val got = Dedup.clusterPairs(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 2L, 3L -> 2L))
  }

  test("incrementalDedup drops batch-internal and corpus duplicates only") {
    val corpus = Seq((1L, "known doc one"), (2L, "known doc two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Known  Doc one"),   // dup of corpus (fingerprint-normalized)
      (11L, "fresh doc"),
      (12L, "fresh doc"),        // internal dup of 11
      (13L, "another fresh one"),
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch,
        Dedup.fingerprintIndex(corpus, "text"), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("incrementalDedup passes null-text rows through untouched") {
    // Null text has no fingerprint: such rows must not dedupe against
    // each other, and a null in the corpus must not eat the batch.
    val corpus = Seq((1L, "known doc"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, null.asInstanceOf[String]),
      (11L, null.asInstanceOf[String]),  // NOT an internal dup of 10
      (12L, "known doc"),                // dup of corpus
      (13L, "fresh doc"),
    ).toDF("doc_id", "text")
    val idx = Dedup.fingerprintIndex(corpus, "text")
    assert(idx.filter(col("fp").isNull).isEmpty)
    val kept = Dedup.incrementalDedup(batch, idx, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 11L, 13L))
  }

  // One word changed in a 25-token text: 23 3-shingles, ≥20 shared,
  // J ≥ 0.77 — above the b=8/r=4 coin-flip zone (catch p ≈ 0.97), so the
  // deterministic hash draw below lands a bucket collision.
  private val longA = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee"
  private val longB = longA.replace("mike", "music")

  test("incrementalMinhashDedup drops corpus near-dups and keeps strangers") {
    val corpus = Seq(
      (1L, longA),
      (2L, "completely different text about spark catalyst optimizer internals"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, longB),
      (11L, "unrelated words one two three four five six seven eight nine ten"),
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashBandIndex(corpus, "text", "doc_id")
    val kept = Dedup.incrementalMinhashDedup(batch, idx, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L))
  }

  test("incrementalMinhashDedup: batch-internal near-dups keep the min id") {
    val empty = Dedup.minhashBandIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    val batch = Seq(
      (10L, longA),
      (11L, longB),
      (12L, "completely different text about spark catalyst optimizer internals"),
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalMinhashDedup(batch, empty, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 12L))
  }

  test("incrementalMinhashDedup passes null and too-short docs through") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashBandIndex(corpus, "text", "doc_id")
    val batch = Seq(
      (10L, null.asInstanceOf[String]),
      (11L, null.asInstanceOf[String]), // NOT an internal dup of 10
      (12L, "two tokens"),              // < shingleN tokens: no buckets
      (13L, "two tokens"),              // identical but also bucketless
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalMinhashDedup(batch, idx, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 11L, 12L, 13L))
  }

  test("incrementalMinhashDedup agrees with minhashPairs buckets (split law)") {
    // Law: splitting the fixture corpus into corpus/batch and ingesting
    // the batch against the corpus index drops exactly the batch docs
    // that minhashPairs (same family/params, run on the WHOLE corpus)
    // pairs with a corpus doc or a smaller batch doc — i.e. the
    // incremental path reproduces the all-pairs candidate graph's
    // one-hop rule without ever touching corpus text. Candidate-level
    // comparison, so read the candidate set via pairs at threshold 0
    // (every candidate surfaces, no verify cut).
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text", $"source")
    val corpus = docs.filter($"source" === "src0")
    val batch = docs.filter($"source" =!= "src0")
    val kept = Dedup.incrementalMinhashDedup(batch,
        Dedup.minhashBandIndex(corpus, "text", "doc_id"),
        "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val candPairs = Dedup.minhashPairs(docs, "text", "doc_id",
        threshold = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val droppedExpected = batchIds.filter { b =>
      candPairs.exists { case (x, y) =>
        // partner is a corpus doc, or a smaller-id batch doc
        (y == b && (corpusIds.contains(x) || x < b)) ||
          (x == b && corpusIds.contains(y))
      }
    }
    assert(kept == batchIds -- droppedExpected)
  }

  test("minhashClusters == clusterPairs(minhashPairs) — exact-collapse law") {
    def labels(df: org.apache.spark.sql.DataFrame) = df
      .select($"id".cast("long"), $"canonical_id".cast("long"))
      .as[(Long, Long)].collect().toSet
    // Real corpus: the collapsed path must reproduce the composed one
    // exactly (same membership, same canonicals).
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val composed = labels(Dedup.clusterPairs(
      Dedup.minhashPairs(docs, "text", "doc_id", 3, 0.8)
        .select($"id_a", $"id_b")))
    val collapsed = labels(
      Dedup.minhashClusters(docs, "text", "doc_id", 3, 0.8))
    assert(composed.nonEmpty && collapsed == composed)
    // Adversarial shapes the collapse must handle: a boilerplate doc
    // duplicated many times (the skew motivation), a case variant of it
    // (same lower(), same group), a whitespace variant (DIFFERENT
    // group: fingerprint would merge it, lower() must not — its token
    // array differs), identical shingle-less dups (never cluster), and
    // null text (never clusters).
    val boiler = "cookie policy accept all cookies to continue to the site"
    val skewed = planted.unionByName(Seq(
      (100L, boiler), (101L, boiler), (102L, boiler),
      (103L, "Cookie Policy accept all cookies to continue to the site"),
      (104L, "cookie  policy accept all cookies to continue to the site"),
      (110L, "two tokens"), (111L, "two tokens"),
      (112L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text"))
    val composedS = labels(Dedup.clusterPairs(
      Dedup.minhashPairs(skewed, "text", "doc_id", 3, 0.8)
        .select($"id_a", $"id_b")))
    val collapsedS = labels(
      Dedup.minhashClusters(skewed, "text", "doc_id", 3, 0.8))
    assert(collapsedS == composedS)
    // The planted clique resolved to its min id on both paths.
    assert(collapsedS.filter(_._1 >= 100L).forall(_._2 == 100L))
    assert(Set(100L, 101L, 102L, 103L).subsetOf(
      collapsedS.filter(_._2 == 100L).map(_._1)))
    // Shingle-less dups and null text never cluster.
    assert(!collapsedS.exists(p => p._1 >= 110L))
  }

  test("jaccardClusters == clusterPairs(jaccardPairs) — exact-collapse law") {
    def labels(df: org.apache.spark.sql.DataFrame) = df
      .select($"id".cast("long"), $"canonical_id".cast("long"))
      .as[(Long, Long)].collect().toSet
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val composed = labels(Dedup.clusterPairs(
      Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.8)
        .select($"id_a", $"id_b")))
    assert(composed.nonEmpty &&
      labels(Dedup.jaccardClusters(docs, "text", "doc_id", 3, 0.8))
        == composed)
    // The adversarial corpus: the planted clique collapses, the
    // universal shingle never enters a prefix, and the result is still
    // exactly the composed form's.
    val boiler = "cookie policy accept all cookies to continue to the site"
    val skewed = planted.unionByName(Seq(
      (100L, boiler), (101L, boiler), (102L, boiler),
      (112L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text"))
      .withColumn("text", when($"text".isNotNull && $"doc_id" < 100,
        concat($"text", lit(" the site footer"))).otherwise($"text"))
    val composedS = labels(Dedup.clusterPairs(
      Dedup.jaccardPairs(skewed, "text", "doc_id", 3, 0.8)
        .select($"id_a", $"id_b")))
    val collapsedS = labels(
      Dedup.jaccardClusters(skewed, "text", "doc_id", 3, 0.8))
    assert(collapsedS == composedS)
    assert(Set(100L, 101L, 102L).subsetOf(
      collapsedS.filter(_._2 == 100L).map(_._1)))
  }

  test("cluster paths reject threshold > 1.0 (exact-collapse law domain)") {
    // r9 ADVICE: above the Jaccard upper bound the composed form yields
    // no pairs while the collapse prestage would still cluster exact
    // duplicates — the law only holds over threshold <= 1.0, so the
    // out-of-domain value must be rejected, not silently diverge.
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    for (thr <- Seq(1.01, 2.0)) {
      assert(intercept[IllegalArgumentException] {
        Dedup.minhashClusters(docs, "text", "doc_id", 3, thr)
      }.getMessage.contains("1.0"))
      assert(intercept[IllegalArgumentException] {
        Dedup.jaccardClusters(docs, "text", "doc_id", 3, thr)
      }.getMessage.contains("1.0"))
    }
    // threshold == 1.0 (exact-duplicate clustering) stays accepted.
    assert(Dedup.jaccardClusters(docs, "text", "doc_id", 3, 1.0)
      .count() === 2L)
  }

  test("incrementalMinhashDedupWithIndex keys == minhashBandIndex(kept)") {
    // The one-pass ingest contract: the survivor bucket keys returned
    // alongside the dedup must be EXACTLY what re-running the index
    // builder on the survivors would produce — same family, params and
    // rows — or the persisted index drifts from the batch-built one.
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text", $"source")
    val corpus = docs.filter($"source" === "src0")
    val batch = docs.filter($"source" =!= "src0")
    val idx = Dedup.minhashBandIndex(corpus, "text", "doc_id")
    val (kept, keys) = Dedup.incrementalMinhashDedupWithIndex(
      batch, idx, "text", "doc_id")
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.select($"band".cast("int"), $"bh")
        .as[(Int, Seq[Long])].collect().toSet
    val direct = keySet(Dedup.minhashBandIndex(kept, "text", "doc_id"))
    assert(direct.nonEmpty, "fixture must produce survivor buckets")
    assert(keySet(keys) == direct)
  }

  test("incrementalEmbeddingDedupWithIndex keys == embeddingLshIndex(kept)") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val corpus = emb.filter($"vec_id" % 3 === 0)
    val batch = emb.filter($"vec_id" % 3 =!= 0)
    val idx = Dedup.embeddingLshIndex(corpus, "vec_id", "embedding", dims = 64)
    val (kept, keys) = Dedup.incrementalEmbeddingDedupWithIndex(
      batch, idx, "vec_id", "embedding", dims = 64)
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.select($"t".cast("int"), $"bucket".cast("long"))
        .as[(Int, Long)].collect().toSet
    val direct = keySet(
      Dedup.embeddingLshIndex(kept, "vec_id", "embedding", dims = 64))
    assert(direct.nonEmpty, "fixture must produce survivor keys")
    assert(keySet(keys) == direct)
  }

  test("simhash of identical token multisets is identical") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val sims = Dedup.simhash(df, "text", "doc_id")
      .select("simhash").as[Long].collect()
    assert(sims(0) == sims(1))
  }

  test("unitDedup on real paragraphs: first use wins, order preserved") {
    val docs = Seq(
      (1L, "alpha para\n\nshared boilerplate\n\nbeta para"),
      (2L, "shared boilerplate\n\ngamma para"),           // loses its copy
      (3L, "delta para\n\ndelta para\n\nepsilon para"),   // in-doc repeat
    ).toDF("doc_id", "text")
    val out = Dedup.unitDedup(docs, "text", "doc_id",
        t => split(t, "\n\n"), joiner = "\n\n")
      .select($"id", $"text_deduped", $"n_units_kept")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, "alpha para\n\nshared boilerplate\n\nbeta para", 3L)))
    assert(out(1) == ((2L, "gamma para", 1L)))
    assert(out(2) == ((3L, "delta para\n\nepsilon para", 2L)))
  }

  test("unitDedup drops fully-duplicate docs; null text has no units") {
    val docs = Seq(
      (1L, "only para"),
      (2L, "only para"),                  // every unit already seen
      (3L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val ids = Dedup.unitDedup(docs, "text", "doc_id", t => split(t, "\n\n"))
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L))
  }

  test("tokenChunks slices 1-based with a ragged tail and survives empties") {
    val df = Seq((1L, "a b c d e"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val got = df.select($"doc_id", Dedup.tokenChunks($"text", 2).as("ch"))
      .as[(Long, Seq[String])].collect().sortBy(_._1)
    assert(got(0)._2 == Seq("a b", "c d", "e"))
    // split("") yields [""]: one empty token, one chunk — consistent with
    // the oracle's string_split behavior.
    assert(got(1)._2 == Seq(""))
    assert(got(2)._2 == Seq("x"))
  }

  test("unitDedup reassembly round-trips a corpus with no duplicate chunks") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "g h i j k"),
    ).toDF("doc_id", "text")
    val out = Dedup.unitDedup(docs, "text", "doc_id",
        t => Dedup.tokenChunks(t, 3))
      .select($"id", $"text_deduped").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a b c d e f", 2L -> "g h i j k"))
  }

  test("semanticDedup drops the larger id of a same-bucket near-dup pair") {
    // 2-dim embeddings, 2 centroids = vectors of ids 1 and 2 (smallest
    // ids): bucket A around (1, 0), bucket B around (0, 1). 3 and 4 are
    // near-dups of their bucket's centroid; 5 is same-bucket but distant
    // (cosine 0 to everything in A it pairs with would be ~0.7 — keep
    // threshold high); 6 would pair with 3 ACROSS buckets, so survives.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.999f, 0.04f)),   // bucket 1, near-dup of 1 -> dropped
      (4L, Array(0.04f, 0.999f)),   // bucket 2, near-dup of 2 -> dropped
      (5L, Array(0.6f, -0.8f)),     // bucket 1, far from 1 and 3 -> kept
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      centroids = 2, threshold = 0.95)
      .select($"vid").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 5L))
  }

  test("semanticDedup: cross-bucket near-dups survive (the SemDeDup recall trade)") {
    // 7 is nearly identical to 2 but assigned to... both centroids are
    // ids 1,2 themselves; anything close to 2 buckets WITH 2, so force
    // the cross-bucket case with a vector between the centroids, slightly
    // nearer centroid 1, paired with a near-identical one slightly nearer
    // centroid 2: neither is dropped despite cosine ~1 between them.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.7072f, 0.7070f)), // hair nearer centroid 1
      (4L, Array(0.7070f, 0.7072f)), // hair nearer centroid 2
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      centroids = 2, threshold = 0.99)
    val buckets = out.select($"vid", $"bucket")
      .as[(Long, Long)].collect().toMap
    assert(buckets.keySet == Set(1L, 2L, 3L, 4L))
    assert(buckets(3L) == 1L && buckets(4L) == 2L)
  }

  test("semanticDedupTrained drops exact same-bucket dups and keeps the rest") {
    // Two tight clusters plus within-cluster near-dups. Wherever k-means
    // places its 2 centroids, each near-dup pair is so tight both members
    // land in the same bucket, so the larger id of each pair drops; the
    // survivors are the smaller ids. (Structural pin — the trained path
    // has no SQL oracle because float means depend on reduction order.)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9995f, 0.02f)),  // near-dup of 1
      (4L, Array(0.02f, 0.9995f)),  // near-dup of 2
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDedupTrained(vecs, "vec_id", "embedding",
      centroids = 2, iterations = 2, threshold = 0.95)
      .select($"vid").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("duplicatedSpans counts cross-doc and in-doc repeated windows") {
    val docs = Seq(
      (1L, "a b c d e"),      // spans: "a b c", "b c d", "c d e"
      (2L, "x a b c d y"),    // shares "a b c" and "b c d" with doc 1
      (3L, "p q r"),          // unique single span
      (4L, "u v u v u v"),    // in-doc repeat: "u v u" x2, "v u v" x2
      (5L, "s t"),            // shorter than the window: no spans
      (6L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "text", "doc_id", windowTokens = 3)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got(1L) == ((3L, 2L)))   // "a b c", "b c d" duplicated in doc 2
    assert(got(2L) == ((4L, 2L)))
    assert(got(3L) == ((1L, 0L)))
    assert(got(4L) == ((4L, 4L)))   // all four spans are in-doc repeats
    assert(!got.contains(5L) && !got.contains(6L))
  }

  test("duplicatedSpans window equal to doc length yields one span") {
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "text", "doc_id", 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 1L), (2L, 1L, 1L)))
  }

  test("removeDuplicatedSpans cuts non-first occurrences, keeps the remainder") {
    val span = (1 to 10).map(i => s"w$i").mkString(" ") // 10 shared tokens
    val docs = Seq(
      (1L, s"$span unique tail here"),   // first occurrence: intact
      (2L, s"prefix own words $span"),   // non-first: span cut, prefix kept
      (3L, "short doc"),                 // sub-window: unchanged
      (4L, span),                        // exact copy: fully removed
      (5L, null.asInstanceOf[String]),   // null text: no row
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "text", "doc_id", 10)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == s"$span unique tail here" && out(1L)._4 == 0)
    assert(out(2L)._2 == "prefix own words" && out(2L)._3 == 3 && out(2L)._4 == 10)
    assert(out(3L)._2 == "short doc" && out(3L)._4 == 0)
    assert(out(4L)._2 == "" && out(4L)._3 == 0 && out(4L)._4 == 10,
      "an entirely-duplicated doc keeps an empty-string row, not no row")
    assert(!out.contains(5L))
  }

  test("removeDuplicatedSpans dedupes in-doc repeats and unions overlaps") {
    val span = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"$span $span")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "text", "doc_id", 10)
      .as[(Long, String, Long, Long)].collect().head
    assert(out._2 == span, "second in-doc occurrence is cut, first kept")
    assert(out._3 == 10 && out._4 == 10)
  }

  test("embeddingLshPairs: precision 1.0 (subset of exact pairs) and recall floor") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val exact = graft.functions.Knn
      .cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
        threshold = 0.4, dims = 64)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // Exact-cosine verify => every reported pair is a true pair.
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // Recall floor mirrors KnnSpec's LSH claim on this fixture.
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall < 0.7 (${lsh.size}/${exact.size})")
  }

  test("embeddingLshPairs forced salting (blockRows = 2) == default blockRows") {
    def p(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"cosine")
        .as[(Long, Long, Double)].collect().toSet
    val emb = graft.model.Tables.embeddings(spark, sf)
    // Default blockRows: every fixture cell holds ≤ 1024 rows, one
    // block each, so the join is the unsalted one.
    val plain = p(Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
      threshold = 0.4, dims = 64, bits = 6))
    assert(plain.nonEmpty)
    // blockRows = 2 forces the triangle-block path on every cell of ≥3
    // rows — the law must hold with salting fully engaged.
    val salted = p(Dedup.embeddingLshPairs(emb, "vec_id",
      "embedding", threshold = 0.4, dims = 64, bits = 6, blockRows = 2))
    assert(salted == plain)
  }

  test("saltedCandidatePairs honors a non-default id column (r10 advice)") {
    // 5 rows in one bucket, blockRows = 2 → 3 triangle blocks: the
    // custom-named id column must drive both the block hash and the
    // pair emission, and a missing id column must fail loudly instead
    // of salting on a resolution error deep in the plan.
    val bucketed = (1L to 5L).toDF("doc").withColumn("b", lit("hot"))
    val pairs = Dedup.saltedCandidatePairs(bucketed, Seq("b"),
        blockRows = 2, idCol = "doc")
      .as[(Long, Long)].collect().toSet
    val expect = (for { a <- 1L to 5L; b <- 1L to 5L if a < b } yield (a, b)).toSet
    assert(pairs == expect)
    val e = intercept[IllegalArgumentException] {
      Dedup.saltedCandidatePairs(bucketed, Seq("b"), 2, idCol = "id")
    }
    assert(e.getMessage.contains("id column"))
  }

  test("incrementalEmbeddingDedup: index hit drops, stranger survives, min-id wins in-batch") {
    // Exact copies have IDENTICAL sign signatures in every table, so
    // index-hit and in-batch drops are deterministic (p=1), not
    // probabilistic — the test never relies on an LSH coin flip.
    val u = Array(1f, 0.2f, -0.3f, 0f, 0.5f, 0f, 0f, 0.1f)
    val w = Array(0f, -1f, 0.4f, 0.2f, 0f, 0.7f, 0f, 0f)
    val stranger = Array(-0.6f, 0f, 0f, 0.9f, -0.2f, 0f, 0.3f, 0f)
    val x = Array(0.1f, 0.1f, 0.8f, -0.5f, 0f, 0f, -0.9f, 0.2f)
    val corpus = Seq((1L, u), (3L, w)).toDF("vec_id", "embedding")
    val batch = Seq((4L, u), (8L, stranger), (12L, x), (16L, x))
      .toDF("vec_id", "embedding")
    val idx = Dedup.embeddingLshIndex(corpus, "vec_id", "embedding", dims = 8)
    val kept = Dedup.incrementalEmbeddingDedup(batch, idx,
        "vec_id", "embedding", dims = 8)
      .select($"vec_id").as[Long].collect().toSet
    assert(!kept.contains(4L), "exact copy of an indexed vector must drop")
    assert(!kept.contains(16L), "larger id of an identical in-batch pair must drop")
    assert(kept.contains(12L), "smaller id of the in-batch pair survives")
    assert(kept.contains(8L), "the stranger survives")
  }

  test("incrementalEmbeddingDedup re-ingest is idempotent after index append") {
    // The warehouse loop: survivors' buckets union into the index; a
    // replay of the same batch against the appended index drops ALL of
    // it (every row now hits either the old or its own new bucket).
    val u = Array(1f, 0.2f, -0.3f, 0f, 0.5f, 0f, 0f, 0.1f)
    val x = Array(0.1f, 0.1f, 0.8f, -0.5f, 0f, 0f, -0.9f, 0.2f)
    val corpus = Seq((1L, u)).toDF("vec_id", "embedding")
    val batch = Seq((4L, u), (12L, x)).toDF("vec_id", "embedding")
    val idx = Dedup.embeddingLshIndex(corpus, "vec_id", "embedding", dims = 8)
    val kept = Dedup.incrementalEmbeddingDedup(batch, idx,
      "vec_id", "embedding", dims = 8)
    val appended = idx.unionByName(
      Dedup.embeddingLshIndex(kept, "vec_id", "embedding", dims = 8)).distinct()
    val replay = Dedup.incrementalEmbeddingDedup(batch, appended,
        "vec_id", "embedding", dims = 8)
      .select($"vec_id").as[Long].collect()
    assert(replay.isEmpty, s"replay kept ${replay.mkString(",")}")
  }

  test("embeddingLshPairs auto-sizes signature bits with corpus cardinality") {
    // Fixed-B geometry is the measured scale-killer (candidates ∝ N²
    // once cells saturate); auto mode must grow B so expected cell
    // population stays ~32. Pin the floor and the growth points on the
    // SHARED implementation (Knn.autoBits — r12: one copy for search
    // and pair generation, integer bit-length so power-of-two
    // boundaries cannot float-round across the ceil).
    import graft.functions.Knn.autoBits
    assert(autoBits(1L) == 6 && autoBits(500L) == 6 && autoBits(2048L) == 6)
    assert(autoBits(20000L) == 10)
    assert(autoBits(2048L * 32) == 11)
    assert(autoBits(1000000L) == 15)
    // Cross-check the bit-length form against an independent EXACT
    // formulation — the smallest k with n <= 32·2^k — across a sweep
    // including the power-of-two boundaries and their neighbors, the
    // points where float logs fail in BOTH directions (32·2^29 computes
    // 29.000000000000004 and over-ceils; 32·2^26 + 1 sits 6.7e-10 above
    // the integer and any epsilon guard under-ceils it). No floats in
    // either side of this law.
    val probes = (1L to 70000L by 997L) ++
      (0 to 40).map(k => 32L << k).flatMap(b => Seq(b - 1, b, b + 1))
    probes.filter(_ >= 1L).foreach { n =>
      // Reference range capped at 57: 32L << 58 overflows Long, so a
      // larger sweep must extend via bit arithmetic, not this shift.
      val exact = math.max(6, (0 to 57).find(k => n <= (32L << k)).get)
      assert(autoBits(n) == exact, s"autoBits($n) = ${autoBits(n)} vs $exact")
    }
    // And the operator under auto mode equals the explicit-B call at
    // the fixture's cardinality (auto resolves to 6 here).
    val emb = graft.model.Tables.embeddings(spark, sf)
    val auto = Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
        threshold = 0.4, dims = 64)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val pinned = Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
        threshold = 0.4, dims = 64, bits = 6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(auto == pinned)
  }

  test("embeddingLshPairs auto-T: tables=0 resolves autoTables(B) (r14)") {
    // The width-scaled table budget rides the same default-0 pattern
    // as the adaptive bits: at fixture scale autoTables(6) = 24 (the
    // floor), so auto ≡ the historical explicit default — and the
    // resolution is the ONE shared Knn.autoTables the DuckDB nt CTE
    // mirrors, so gate and oracle can never disagree on T.
    import graft.functions.Knn
    val emb = graft.model.Tables.embeddings(spark, sf)
    assert(Knn.autoTables(Knn.autoBits(emb.count())) == 24)
    def p(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"cosine")
        .as[(Long, Long, Double)].collect().toSet
    val auto = p(Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
      threshold = 0.4, dims = 64))
    val explicit = p(Dedup.embeddingLshPairs(emb, "vec_id", "embedding",
      threshold = 0.4, dims = 64, tables = 24))
    assert(auto == explicit && auto.nonEmpty)
  }

  test("embeddingLshPairs buckets are data-independent (subset ≡ full corpus)") {
    // The streaming-safety claim: a row's (t, bucket) signature depends
    // only on the planes, never on corpus statistics — bucketing a
    // subset must produce exactly the signatures it had in the full run.
    val emb = graft.model.Tables.embeddings(spark, sf)
    val full = graft.functions.Knn
      .lshBucketTable(emb, "vec_id", "embedding", 4, 6, 64)
      .filter($"vid" < 20)
      .select($"vid", $"t", $"bucket").as[(Long, Int, Long)].collect().toSet
    val subset = graft.functions.Knn
      .lshBucketTable(emb.filter($"vec_id" < 20), "vec_id", "embedding", 4, 6, 64)
      .select($"vid", $"t", $"bucket").as[(Long, Int, Long)].collect().toSet
    assert(full == subset)
  }
}
