package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}

/** Locks in the plan shapes that matter at 100 TB: filters pushed into
  * parquet scans, pruned read schemas, broadcast joins on dimension
  * tables. A regression here means a future change silently reintroduced
  * a full scan or a fact-table shuffle. */
class PlanRegressionSpec extends AnyFunSuite with SparkTestBase {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = planOf("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q1_agg prunes the read schema to the needed columns") {
    val p = planOf("q1_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    // q1_agg is agg-first and was never given an unsplittable-input
    // spread (the blanket read-layer form was measured and rejected in
    // r14), so neither l_orderkey nor l_tax may appear in its schema.
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q3_join_agg broadcasts the dimension sides (no fact shuffle for joins)") {
    val p = planOf("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ref_p9_ri_semijoin plans as a broadcast semi join, not a collect") {
    val p = planOf("ref_p9_ri_semijoin")
    assert(p.contains("BroadcastHashJoin LeftSemi") ||
      p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("q_topk_perkey_native uses the partial/final bounded-heap pipeline") {
    val p = planOf("q_topk_perkey_native")
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
  }

  test("knn_recall_at_k: every per-query top-k is TopKPerKey alone, no WindowGroupLimit") {
    // The window → top-k rewrite runs before Spark infers its own window
    // group limit, so no rewritten idiom keeps a WindowGroupLimit pair
    // (and its two sorts) under the TopKPerKey operator.
    val lines = planOf("knn_recall_at_k").linesIterator.toSeq
    assert(lines.count(_.contains("WindowGroupLimit")) == 0, lines.mkString("\n"))
    assert(lines.count(_.contains("TopKPerKeyFinal")) == 17, lines.mkString("\n"))
  }

  test("knn brute force broadcasts the probe set (corpus never shuffles)") {
    val p = planOf("knn_cosine_topk_native")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("vector queries score with the native kernels") {
    // One scoring path per metric: no query falls back to the
    // zip_with/aggregate composition the kernels replaced.
    Seq("knn_cosine_topk", "knn_recall_at_k", "dedup_embedding_pairs",
        "dedup_semantic").foreach { q =>
      val p = planOf(q)
      assert(p.contains("cosine_sim(") && !p.contains("zip_with"), s"$q:\n$p")
    }
  }

  test("knn_filtered_topk pushes the metadata predicate into the documents scan") {
    val p = planOf("knn_filtered_topk")
    // Pre-filter ANN: lang/n_chars reach the documents parquet scan as
    // pushed filters (scoring never sees disqualified vectors)...
    assert(p.contains("EqualTo(lang,en)") && p.contains(
      "GreaterThanOrEqual(n_chars,200)"), p)
    // ...and the probe set broadcasts, as in the unfiltered query.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("docs_hash_split is a pure projection: no exchange except the output sort") {
    val p = planOf("docs_hash_split")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 1, p) // only the ORDER BY range exchange
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
  }

  test("q_range_join plans the interval join as a hash join, never a nested loop") {
    val p = planOf("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("docs_mixture_sample pushes nothing but keeps the scan pruned") {
    val p = planOf("docs_mixture_sample")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text"), readSchema) // filter needs only ids
  }

  test("knn_lsh_topk broadcasts planes and probes: corpus joins without shuffling") {
    val p = planOf("knn_lsh_topk")
    // The planes live in the signing kernel and the queries' probe keys
    // ride one broadcast row; each corpus row matches its colliding
    // queries in place, so there is no candidate join to shuffle and
    // no (query, neighbor) dedup aggregate.
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
    // Shuffles: the corpus spread, the per-query top-k, and the query's
    // own ORDER BY — nothing per table or per candidate pair.
    val exchanges = p.linesIterator.map(_.trim)
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toSeq
    assert(exchanges.length == 3, p)
    assert(exchanges.count(_.contains("hashpartitioning(vec_id")) == 1, p)
    assert(exchanges.count(_.contains("hashpartitioning(query_id")) == 1, p)
    assert(exchanges.count(_.contains("rangepartitioning(query_id")) == 1, p)
  }

  test("dedup_paragraphs shuffles only on fingerprint, id, and the output sort") {
    val p = planOf("dedup_paragraphs")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("Reused"))
    // window on the unit fingerprint + reassembly aggregate + ORDER BY:
    // three shuffles, none of them a join back to the corpus.
    assert(exchanges <= 3, p)
    assert(!p.contains("Join"), p)
  }

  test("q14_promo_share broadcasts part (the fact table never shuffles for the join)") {
    val p = planOf("q14_promo_share")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("knn_pq_topk encodes via broadcast codebooks: the corpus never shuffles") {
    val p = planOf("knn_pq_topk")
    // Codebooks and queries ride broadcasts; the only shuffle is the
    // per-query top-k window on scored pairs.
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedup_semantic shuffles the corpus only on the bucket id") {
    val p = planOf("dedup_semantic")
    // Assignment is a broadcast projection; the within-bucket self join
    // and the survivor anti join are the only corpus exchanges.
    assert(!p.contains("CartesianProduct"), p)
    val lines = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(lines.forall(l => l.contains("bucket") || l.contains("vid")), lines.mkString("\n"))
  }

  test("dedup_embedding_lsh buckets the corpus once (ReusedExchange on the self-join)") {
    // The salted narrow form (r10): both salted sides of the
    // (t, bucket, __lo, __hi) self-join hang off the SAME bucket-key
    // exchange (the window that sizes each cell), so AQE computes the
    // LSH bucketing pass once — ReusedExchange must appear. The
    // self-join itself must stay a sort-merge join (the merge hint
    // blocks AQE's broadcast conversion): its sides must SPILL (a
    // shuffled-hash build outgrows a fixed task budget with the
    // corpus; the 100× probe OOM'd it, r9), and a broadcast there is
    // infeasible at corpus scale. The exact-cosine verify joins the
    // deduped candidate ids back to the corpus — AQE MAY broadcast
    // those at fixture scale (2k vectors), which is correct and
    // size-gated, so no global no-broadcast assert. Reuse materializes
    // only during execution — run, then inspect the final plan.
    val df = SparkEntry.queries("dedup_embedding_lsh")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.linesIterator.next())
    assert(p.toLowerCase.contains("reused"), p)
    assert(p.contains("SortMergeJoin"), p)
    // The salted block keys are join keys, not filters: the SMJ line
    // must carry them (the one structural difference vs the wide form).
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.exists(l => l.contains("__lo") && l.contains("__hi")),
      smj.mkString("\n"))
  }

  test("docs_pack_chunks reuses one range exchange; windows are pid-partitioned") {
    // AQE materializes exchange reuse only during execution — run the
    // query, then inspect the final adaptive plan.
    val df = SparkEntry.queries("docs_pack_chunks")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.linesIterator.next())
    assert(p.toLowerCase.contains("reused"), p)
    // The corpus-wide window must be partitioned (by the partition id),
    // not a drag-everything-to-one-task unpartitioned window.
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("__pid")),
      winLines.mkString("\n"))
  }
}
