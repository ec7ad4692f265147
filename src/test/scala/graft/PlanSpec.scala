package graft

/** Physical-plan shape assertions — locks in the scale-design claims
  * of SCALE.md: pushdown reaches the scans, dimensions broadcast,
  * aggregation is partial+final, top-k never globally sorts. */
class PlanSpec extends SparkSpec {
  import graft.ops.Collapse
  import org.apache.spark.sql.functions.{col, lit}

  private def plan(name: String, dir: String = sf0001): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  /** sf0.001's documents and embeddings twice over (the second copy
    * at shifted ids): the duplicated corpus the collapsed branch is
    * pinned on. sf0.001 itself has no duplicate texts or vectors, so
    * it pins the other branch. */
  private lazy val dupCorpus: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-plan-dups").toString
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
      case (t, id) =>
        val rows = Tables.table(spark, sf0001, t)
        rows.unionByName(rows.withColumn(id, col(id) + lit(100000L)))
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** A join keyed on the dup mapping's `rep` column. */
  private val repJoin = "Join \\[rep#".r

  test("q01: filter pushed to parquet, schema pruned, partial agg") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("partial_sum"))
    // pruned: only 7 of 11 lineitem columns read
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"))
  }

  test("q05: star joins broadcast the dimension tables") {
    val p = plan("q05_local_supplier_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q03: top-10 compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q03_shipping_priority").contains("TakeOrderedAndProject"))
  }

  test("t63: λ table broadcasts, selection is top-k, no cartesian legs") {
    val p = plan("t63_dsir_weights")
    // the 1024-row log-ratio table joins the per-doc counts broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // top-200 selection is per-partition top-k, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    // the only cross joins are the 1-row nt/nr scalar broadcasts
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q04: semi-join stays a semi-join in the physical plan") {
    assert(plan("q04_order_priority").contains("LeftSemi"))
  }

  test("s04: fused vector expressions appear in the plan (no HOF fold)") {
    val p = plan("s04_neardup_pairs")
    assert(p.contains("vec_dot") && p.contains("vec_norm"))
    assert(!p.contains("aggregate(zip_with"))
  }

  test("s11: the IVF×PQ encode runs the fused kernels, not HOF folds") {
    val p = plan("s11_ivfpq_knn")
    assert(p.contains("pq_encode") && p.contains("nearest_cell"),
      p.take(800))
    assert(!p.contains("aggregate(") && !p.contains("zip_with"),
      "interpreted HOF fold crept back into the encode path")
  }

  test("t05: classification is the fused profile argmax on one scan") {
    // drop any scope-tracked persist left by an earlier suite (t47
    // caches the shared confusion relation); a cache hit would swap
    // the scan for an InMemoryTableScan and break the shape counts
    Scoped.release()
    // duplicate-free corpus: the argmax runs straight on the scan —
    // no dup-mapping window, no re-attach join — still behind the
    // persist barrier that keeps it out of a pushed Filter
    assert(!Collapse.textHasDups(spark, sf0001))
    val q = plan("t05_language_id")
    Scoped.release()
    assert(q.contains("profile_argmax"), q.take(800))
    assert(!q.contains("Window"), q.take(800))
    assert(repJoin.findFirstIn(q).isEmpty, q.take(800))
    assert(!"Condition[^\\n]*profile_argmax".r.findFirstIn(q).isDefined,
      "argmax re-evaluated inside a pushed filter")
    // duplicated corpus: the collapsed plan
    assert(Collapse.textHasDups(spark, dupCorpus))
    val p = plan("t05_language_id", dupCorpus)
    Scoped.release()
    assert(p.contains("profile_argmax"), p.take(800))
    assert(!p.contains("array_intersect"),
      "per-profile intersection fold crept back")
    // r16 collapse: the argmax runs once per DISTINCT text behind a
    // persist barrier — it must never be substituted into a Filter
    // (the §4.4 double-evaluation) and the dup-mapping window pass
    // must be present
    assert(!"Condition[^\\n]*profile_argmax".r.findFirstIn(p).isDefined,
      "argmax re-evaluated inside a pushed filter")
    assert(p.contains("Window"), p.take(800))
    assert(repJoin.findFirstIn(p).isDefined, p.take(800))
  }

  test("t37: char counting is row-local — no per-character shuffle") {
    val p = plan("t37_char_entropy")
    assert(p.contains("char_counts"), p.take(800))
    // the explode feeds from the fused per-doc counts map, so every
    // exchange moves (doc, ch, count) rows, never raw characters:
    // the count aggregation must sit UNDER the first exchange
    assert(!p.contains("split("), "raw per-character explode returned")
  }

  test("q55: correlated min-cost subquery decorrelates to one aggregate + join") {
    val p = plan("q55_min_cost_supplier")
    // RewriteCorrelatedScalarSubquery must have rewritten the per-row
    // subquery into a per-part min aggregate joined back — a plan
    // that still carries a subquery node re-executes the 4-table join
    // once per outer row
    assert(!p.contains("scalar-subquery") && !p.contains("Subquery"))
    assert(p.contains("partial_min") || p.contains("min("))
    // region/nation are broadcast dims; the rewritten min side joins
    // hash-to-hash, never nested-loop
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("q56: EXISTS / NOT EXISTS compile to semi and anti joins, no per-row probe") {
    val p = plan("q56_blame_sole_supplier")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
    assert(!p.contains("scalar-subquery") && !p.contains("Subquery"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("q57: three-deep nesting decorrelates — semi joins, no per-row probe") {
    val p = plan("q57_excess_suppliers")
    // the IN chains become semi joins; the correlated SUM becomes an
    // aggregate joined on l_partkey — a surviving subquery node would
    // re-scan lineitem once per group
    assert(p.contains("LeftSemi"))
    assert(!p.contains("scalar-subquery") && !p.contains("Subquery"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("q58: anti-join + once-executed scalar subquery, no per-row probe") {
    val p = plan("q58_lost_customers")
    // NOT EXISTS compiles to LeftAnti on the custkey; the uncorrelated
    // average executes once as a subquery, never per customer row
    assert(p.contains("LeftAnti"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("m09: aHash candidates ride an equi-join on (band, value) — no all-pairs") {
    val p = plan("m09_ahash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("t43: the window build is the fused kernel, windows dedup row-locally") {
    val p = plan("t43_boiler_ngrams")
    // the exchange must carry per-doc distinct hashes from ngram_hashes,
    // never window strings from an interpreted transform
    assert(p.contains("ngram_hashes"))
    assert(!p.contains("array_join"))
    assert(!p.contains("CartesianProduct"))
  }

  test("e26: the WAU fan-out joins the spine as a semi-join") {
    val p = plan("e26_rolling_wau")
    assert(p.contains("LeftSemi"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("s23/s15 (the scale twins): NO cartesian product in the plan") {
    // the LSH-routed twins must carry pair generation through the
    // bucketed candidate equi-join at every SF; the O(n²) crossJoin
    // belongs to their exact anchors (s04/s12) alone
    val sf01 = "/root/testdata/sf0.1"
    for (q <- Seq("s23_neardup_pairs_lsh", "s15_semantic_dedup_lsh")) {
      val p = SparkEntry.queries(q)(spark, sf01)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q carries an all-pairs join on its scale path")
    }
    // and the exact anchor twin IS the documented all-pairs leg
    val pAnchor = plan("s04_neardup_pairs")
    assert(pAnchor.contains("CartesianProduct") ||
      pAnchor.contains("BroadcastNestedLoopJoin"))
  }

  test("t09: fused shingle kernel in the plan; the sig pass rides the " +
      "session-memoized band-key relation") {
    val p = plan("t09_minhash_lsh")
    // the verify path shingles per query (fused kernel, never the
    // declarative string forms)…
    assert(p.contains("shingle_hashes"))
    assert(!p.contains("array_min(transform"))
    assert(!p.contains("array_join(slice"))
    // …while the 72-perm signature pass lives in the session-memoized
    // repBandKeys relation (ONE pass per dir, shared with t39): t09's
    // own plan reads its parquet SPILL (SpillMemo — a plain FileScan
    // any executor can re-read, recomputable if swept) instead of
    // re-running minhash_sig — and gains no exchange doing so (the
    // candidate window/join structure is unchanged downstream)
    assert(!p.contains("minhash_sig"), "sig pass re-entered t09's plan")
    assert(p.contains("graft-spill-"), p.take(800))
    // the memoized relation ITSELF is built by the fused kernels: its
    // compute plan (pre-spill) pins minhash_sig over the hashed
    // shingles — asserted on a fresh un-memoized construction
    val keysPlan = graft.ops.Text.repBandKeysPlanForSpec(spark, sf0001)
    assert(keysPlan.contains("minhash_sig") &&
      keysPlan.contains("shingle_hashes"), keysPlan.take(800))
    Scoped.release() // the helper's scope-tracked mapping persist
  }

  test("t14: benchmark shingle set broadcasts; corpus side not shuffled") {
    val p = plan("t14_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("t69: sketch decoration stays at rep level — the sorted-array " +
      "intersect never rides the member-expansion joins") {
    // duplicate-free corpus: the rep pairs are the doc pairs — no
    // member expansion, so no Union and no join on rep
    assert(!Collapse.textHasDups(spark, sf0001))
    val q = plan("t69_bottomk_containment")
    Scoped.release()
    assert(q.contains("sorted_intersect_count"))
    assert(!q.contains("CartesianProduct"))
    assert(!q.contains("Union"), q.take(800))
    assert(repJoin.findFirstIn(q).isEmpty, q.take(800))
    // duplicated corpus: the collapsed plan
    assert(Collapse.textHasDups(spark, dupCorpus))
    val p = plan("t69_bottomk_containment", dupCorpus)
    Scoped.release()
    // the estimator's kernel evaluates once per REP pair…
    assert(p.contains("sorted_intersect_count"))
    // …and the doc-level expansion ships only scalars: every join
    // PROJECT above the intersect carries hit/k_eff, never the sg/
    // thb arrays (the containmentRepCore discipline — the first cut
    // joined arrays onto the copy-quadratic relation, 3.4× at sf10).
    // Structural proxy pins: no cartesian anywhere, and exactly one
    // Union (cross + intra expansion, the t57 shape).
    assert(!p.contains("CartesianProduct"))
    assert("Union".r.findAllIn(p).size == 1)
    // the fused portable-hash kernel builds the signatures in-plan
    // (memoized relations aside, the sketch is never a string form)
    assert(p.contains("ngram_poly_hashes") || p.contains("graft-spill-"),
      p.take(600))
  }

  test("s05: fused hyperplane signatures, one corpus scan") {
    // duplicate-free vectors: the top-k runs straight over the table,
    // no member expansion
    assert(!Collapse.embHasDups(spark, sf0001))
    val q = plan("s05_ann_lsh")
    assert(q.contains("hyperplane_sigs"))
    assert(!q.contains("Union"), q.take(800))
    assert(q.contains("TakeOrderedAndProject"))
    assert(!q.contains("CartesianProduct"))
    // duplicated vectors: the collapsed plan
    assert(Collapse.embHasDups(spark, dupCorpus))
    val p = plan("s05_ann_lsh", dupCorpus)
    Scoped.release()
    assert(p.contains("hyperplane_sigs"))
    // exactly ONE Union — the duplicate-member expansion of the
    // round-6 exact-collapse; the old 12-scan per-table union shape
    // stays gone (it put a Union UNDER the signature generation;
    // this one sits above the scored rep pairs)
    assert("Union".r.findAllIn(p).size == 1)
    // both the rep cut and the final top-k stay per-partition top-k,
    // never a global sort
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }

  test("e05: JSON extraction prunes to the props column") {
    val p = plan("e05_json_props")
    assert(!p.contains("user_id")) // unreferenced columns not read
  }

  test("e15: per-type moments broadcast back onto the daily relation") {
    val p = plan("e15_daily_anomaly")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("t19: bigram model joins stay on bounded keys; vocab scalar broadcasts") {
    val p = plan("t19_bigram_lm")
    // the vocabulary-size scalar rides a broadcast nested loop (1 row),
    // never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("s10: PQ query side broadcasts; shortlist bounds the rerank") {
    val p = plan("s10_pq_adc_knn")
    // the per-query LUT table and query vectors are broadcast — the
    // corpus-side code scan never shuffles for candidate generation
    assert("Broadcast".r.findAllIn(p).size >= 2)
    // exact rerank only after the ADC rank-50 filter
    assert(p.contains("ark") && p.contains("vec_dot"))
  }

  test("FuseSelfDot optimizer rule rewrites vec_dot(x,x) to vec_normsq") {
    import graft.functions.{VectorExprs, FuseSelfDot}
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ FuseSelfDot
    try {
      val df = Tables.embeddings(spark, sf0001)
        .select(VectorExprs.vecDot(
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("embedding")).as("d"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("vec_normsq"))
      assert(!optimized.contains("vec_dot"))
      // bitwise-identical to the unfused form
      val unfused = Tables.embeddings(spark, sf0001)
        .select(VectorExprs.vecNorm(
          org.apache.spark.sql.functions.col("embedding")).as("n"))
        .collect().map(r => r.getDouble(0) * r.getDouble(0))
      val fused = df.collect().map(_.getDouble(0))
      fused.zip(unfused).foreach { case (f, u) =>
        assert(math.abs(f - u) <= math.ulp(u) * 2)
      }
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == FuseSelfDot)
    }
  }

  test("t21: packing windows hash-partition by shard, never a global single partition") {
    val p = plan("t21_sequence_packing")
    assert(p.contains("hashpartitioning(shard"))
    assert(!p.contains("SinglePartition"),
      "a global cumsum window would serialize the whole corpus")
  }

  test("s11: query LUT broadcasts; ADC top-50 runs as a group limit before the shuffle") {
    val p = plan("s11_ivfpq_knn")
    // the m×k LUT + probe list ride a broadcast to the corpus scan
    assert(p.contains("BroadcastNestedLoopJoin"))
    // rank<=50 pushes down as WindowGroupLimit: partial per-partition
    // top-k BEFORE the qid shuffle, so the shuffle moves ≤50·partitions
    // rows per query, not every ADC score
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("t29 scoring is shuffle-free: zero exchanges before presentation sort") {
    // the claim behind the streaming apply twin: scoring = one
    // map-only pass. Strip the orderBy (presentation only) and the
    // plan must contain no Exchange at all.
    val (w, _, _) = graft.ops.Text.lrModel(spark, sf0001)
    val scored = graft.streaming.Streams.scoreDocsWithModel(
      Tables.documents(spark, sf0001).select("doc_id", "text"), w)
    val p = scored.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(400))
    assert(p.contains("Scan parquet"), p.take(400))
  }

  test("t30: rate table and report join broadcast; no sort-merge anywhere") {
    val p = plan("t30_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("e17: transition matrix joins broadcast on bounded keys") {
    val p = plan("e17_markov_transitions")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("s16: probed cells prune PARTITIONS of the stored coded table") {
    val p = plan("s16_ivfpq_stored")
    // the cid predicate must reach the scan as a partition filter
    // (directory pruning), not survive as a post-scan Filter
    assert(p.contains("PartitionFilters") && p.contains("cid"),
      p.take(800))
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).nonEmpty,
      p.take(800))
  }

  test("t32: the doc-sized running sum is partitioned by bucket") {
    val p = plan("t32_budget_select")
    // the corpus prefix sum must hash-partition by the quality bucket;
    // only the <=21-row bucket-offset window may be unpartitioned
    assert(p.contains("windowspecdefinition(bkt"), p.take(800))
  }

  test("t36: query vocabulary broadcasts against the token explode; no cartesian") {
    val p = plan("t36_bm25_topk")
    // the 9-term vocabulary must reach the exploded tokens as a
    // broadcast (postings pruned at the scan side), never a shuffle
    // of the full token relation against 9 rows — and nothing in the
    // BM25 plan is a cartesian product
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // stats (n, avgdl) ride a broadcast nested-loop of ONE row, not
    // a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q49: filters push into the ORC scan and the schema is pruned") {
    val p = plan("q49_orc_source")
    // the second source format gets the same scan-level treatment as
    // parquet: predicate pushdown + column pruning at the ORC reader
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(1200))
    assert(p.contains("ReadSchema") &&
      !p.contains("l_orderkey"), p.take(1200)) // pruned to used columns
  }

  test("q51: filters push into the CSV scan and the schema is pruned") {
    val p = plan("q51_csv_source")
    // delimited text gets the same scan-level treatment: predicate
    // pushdown + column pruning at the CSV reader
    assert(p.contains("Scan csv"), p.take(1200))
    assert(p.contains("PushedFilters: [IsNotNull(l_linestatus)"),
      p.take(1200))
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      p.take(1200))
  }

  test("q52: per-column NDV legs are pruned single-column scans, no Expand") {
    val p = plan("q52_column_profile")
    // r16 shape (guide §2, distinct-aggregate shaping): one scan for
    // the base stats aggregate + one PRUNED single-column scan per
    // exact NDV (columnar reads — total I/O ≈ one table pass). The
    // r15 Expand form multiplied the full 11-column scan ×12 through
    // one 12-column-key shuffle; measured 2.0× slower at sf0.1
    // (bench/r16_sf0.1_detail_pre.json vs r16_sf0.1_detail.json).
    assert("Scan parquet".r.findAllIn(p).size == 12, p.take(800))
    // NO Expand anywhere: each leg dedups map-side (partial HashAgg
    // on its one column) and shuffles DISTINCT VALUES only
    assert(!p.contains("Expand"), p.take(800))
    assert(p.contains("partial_"), p.take(800))
    // every NDV leg's scan is pruned to exactly one column
    assert("ReadSchema: struct<l_orderkey:bigint>".r.findAllIn(p).nonEmpty,
      p.take(800))
  }

  test("t40: the merge walk runs once per DISTINCT text (r16 collapse)") {
    // duplicate-free corpus: one walk per doc straight on the scan —
    // no dup-mapping window, no re-attach join
    assert(!Collapse.textHasDups(spark, sf0001))
    val q = plan("t40_bpe_tokenize")
    assert("bpe_token_count".r.findAllIn(q).size <= 2, q.take(800))
    assert(!q.contains("Window"), q.take(800))
    assert(repJoin.findFirstIn(q).isEmpty, q.take(800))
    // duplicated corpus: the collapsed plan
    assert(Collapse.textHasDups(spark, dupCorpus))
    val p = plan("t40_bpe_tokenize", dupCorpus)
    Scoped.release()
    // the learned merges ride the fused codegen kernel (one token
    // walk per merge, no chained full-string replace allocations)
    assert(p.contains("bpe_token_count"), p.take(800))
    // the kernel is evaluated only on the rep-filtered side of the
    // dup mapping, never per member (the r15 map-only form paid the
    // walk once per COPY; at the sf1 10×-duplication regime that was
    // 10× the query). toString prints the projection expression at
    // most twice (Project + its named output) — 10 mentions would
    // mean per-member evaluation leaked back in.
    assert("bpe_token_count".r.findAllIn(p).size <= 2, p.take(800))
    // the dup mapping is the min-per-text window; members re-attach
    // by rep id
    assert(p.contains("Window"), p.take(800))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"), p.take(800))
    assert(repJoin.findFirstIn(p).isDefined, p.take(800))
  }

  test("s12/s15 labels: members take the component label through one " +
      "left join, no min-member aggregate after the labels") {
    // the CC labels are min-id labels over reps, and a rep is its
    // group's min id: the label already IS the component's min member
    for (dir <- Seq(sf0001, dupCorpus)) {
      val p = graft.ops.Similarity.semanticDedupLabels(spark, dir,
        allPairs = true).queryExecution.executedPlan.toString
      Scoped.release()
      assert("SortMergeJoin.*LeftOuter".r.findAllIn(p).size == 1, p.take(1600))
      assert(!p.contains("HashAggregate"), p.take(1600))
    }
  }

  test("t45: vocab is a top-V heap merge that broadcasts; no sort-merge") {
    val p = plan("t45_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("m12: frame fan-out is map-only — one exchange, the output sort") {
    val p = plan("m12_audio_frames")
    assert("Exchange".r.findAllIn(p).size == 1, p.take(800))
    assert(p.contains("MapPartitions"), p.take(800))
  }

  test("e28: the window rides the tiny (type, day) aggregate") {
    val p = plan("e28_trending")
    // scan → partial/final agg (1 exchange) → window re-key (1) →
    // presentation sort (1); anything more means the window touched
    // raw events
    assert("Exchange".r.findAllIn(p).size == 3, p.take(800))
    assert(p.contains("Window"), p.take(800))
  }

  test("e30: the share join broadcasts the 1-row total; no sort-merge") {
    val p = plan("e30_seasonality")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("m13: histogram fan-out is map-only — one exchange, the output sort") {
    val p = plan("m13_color_histogram")
    assert("Exchange".r.findAllIn(p).size == 1, p.take(800))
    assert(p.contains("MapPartitions"), p.take(800))
  }

  test("broadcast fallback: q03 under threshold -1 shuffles and matches") {
    // at 100 TB a "dimension" can outgrow the broadcast threshold;
    // the plan must degrade to shuffle joins with IDENTICAL results,
    // not depend on broadcastability for correctness
    val want = SparkEntry.queries("q03_shipping_priority")(
      spark, sf0001).collect().toSeq
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val df = SparkEntry.queries("q03_shipping_priority")(
        spark, sf0001)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p.take(600))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(600))
      assert(df.collect().toSeq == want)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("m15: the manifest-driven media scan lists zero directories") {
    val df = SparkEntry.queries("m15_bronze_media")(spark, sf0001)
    // the scan's roots must be the exact parquet FILES named by the
    // bronze stats (manifest-resolved), never a directory to
    // enumerate — the property that turns m08's per-query
    // object-store LIST into O(metadata) at 100 TB
    val roots = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths
          case _ => Seq.empty
        }
    }.flatten
    assert(roots.nonEmpty)
    roots.foreach(p => assert(p.getName.endsWith(".parquet"),
      s"scan root is not a concrete file: $p"))
    // and the result is the m08 contract (same features, same rows)
    val viaGlob = SparkEntry.queries("m08_binary_source")(spark, sf0001)
    assert(df.collect().toSeq == viaGlob.collect().toSeq)
  }

  test("vec_dot is SQL-callable after extension registration") {
    graft.functions.VectorExprs.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d," +
        " vec_norm(array(3.0D, 4.0D)) AS n").head()
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 5.0)
    // zvalue too — ORDER BY zvalue(x, y) is the pure-SQL OPTIMIZE
    // ZORDER path; codegen'd, matches the Scala-side codec
    val z = spark.sql("SELECT zvalue(8, 8) AS z").head().getLong(0)
    assert(z == graft.functions.ZOrderCodec.morton(8, 8))
    // the round-4 kernels are SQL surface too
    val adc = spark.sql(
      "SELECT adc_score(array(1, 0), array(array(1.0D, 2.0D)," +
        " array(3.0D, 4.0D))) AS a").head().getDouble(0)
    assert(adc == 2.0 + 3.0)
    val ttf = spark.sql(
      "SELECT top_token_freq(array('a', 'b', 'a')) AS f").head().getInt(0)
    assert(ttf == 2)
    // the round-8 window kernel: SQL result == xxhash64 of the joined
    // window strings, distinct keeps first appearance
    val ng = spark.sql(
      "SELECT ngram_hashes(array('a', 'b', 'a', 'b'), 2, true) AS h," +
        " xxhash64('a b') AS ab, xxhash64('b a') AS ba").head()
    assert(ng.getSeq[Long](0) == Seq(ng.getLong(1), ng.getLong(2)))
  }

  test("t50: novelty rides the fused window kernel, no all-pairs") {
    val p = plan("t50_ngram_novelty")
    // same exchange contract as t43: per-doc distinct 8-byte hashes,
    // never window strings
    assert(p.contains("ngram_hashes"), p.take(800))
    assert(!p.contains("array_join"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("s24: centroids broadcast; scoring never sort-merges") {
    val p = plan("s24_herding_coreset")
    // the |labels|-row centroid table must reach the corpus scan as a
    // broadcast — a shuffled join would move the corpus for a
    // bounded-size model table
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
  }

  test("m16: the island pass reuses the frame fan-out's doc partitioning") {
    val p = plan("m16_audio_vad")
    // decode fan-out is map-only (the m12 shape); ONE hash exchange on
    // doc_id serves the voiced window, the (doc, run) aggregate AND
    // the seg_id window — the run-group aggregate must not re-key
    assert(p.contains("MapPartitions"), p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(800))
  }

  test("m17: decode is map-only; shots ride ONE doc-keyed exchange") {
    val p = plan("m17_scene_detect")
    // SAD is computed inside the per-doc decode (consecutive frames
    // are adjacent bytes of one payload), so no self-join appears;
    // the cut window and the (doc, shot) aggregate share one hash
    // exchange on doc_id
    assert(p.contains("MapPartitions"), p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(800))
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
  }

  test("m18: A/V align joins per-doc relations, never across docs") {
    val p = plan("m18_av_align")
    // both sides are doc-partitioned aggregates; the alignment is an
    // equi-join on doc_id with a row-local interval predicate — no
    // interval-join fallback to a nested-loop/cartesian plan
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("t57: the prefix filter keeps the containment join candidate-driven") {
    val p = plan("t57_containment_pairs")
    // candidates come from the prefix ⋈ postings equi-join and the
    // verify re-joins postings on (rb, s) — every join keyed, no
    // all-pairs fallback
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q61: dynamic partition pruning reaches the partitioned scan") {
    val p = plan("q61_dpp_prune")
    // the month dim is only known at runtime, so the fact scan's
    // partition filter must carry a DynamicPruningExpression reusing
    // the broadcast — the 100 TB mechanism that reads 3 directories
    // instead of the whole fact
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("t58: marginals aggregate the reduced count table, one corpus shuffle") {
    val p = plan("t58_collocations")
    // top-k must be TakeOrdered (per-partition heaps), never a global
    // sort; the 1-row total reaches the count table as a broadcast
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("t51: the chunker is map-only — explode, no data shuffle") {
    val p = plan("t51_rag_chunks")
    // one scan, a Generate fan-out, and the presentation sort's
    // range exchange — NO hash exchange may appear (chunking is
    // embarrassingly parallel)
    assert(p.contains("Generate"), p.take(800))
    assert(!p.contains("Exchange hashpartitioning"), p.take(800))
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
  }

  test("t52: bucket stats broadcast; only the doc rollup shuffles") {
    val p = plan("t52_domain_affinity")
    // the ≤256-row stats table and the 1-row totals must reach the
    // scoring scan as broadcasts; the per-doc vote rollup is the one
    // hash exchange, with map-side partial aggregation
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      "BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(2000))
  }

  test("t52: the dup mapping's text window only on a corpus with duplicates") {
    // duplicate-free corpus: the token explode runs on the scan and
    // each doc reads its own votes — no window, no join on rep
    assert(!Collapse.textHasDups(spark, sf0001))
    val q = plan("t52_domain_affinity")
    Scoped.release()
    assert(!q.contains("Window"), q.take(800))
    assert(repJoin.findFirstIn(q).isEmpty, q.take(800))
    // duplicated corpus: the min-per-text window carries m and mr on
    // one pass, and members re-attach by rep
    assert(Collapse.textHasDups(spark, dupCorpus))
    val p = plan("t52_domain_affinity", dupCorpus)
    Scoped.release()
    assert(p.contains("Window"), p.take(800))
    assert(repJoin.findFirstIn(p).isDefined, p.take(800))
  }

  test("t53: threshold table broadcasts; no all-pairs anywhere") {
    val p = plan("t53_perplexity_buckets")
    // the ≤|langs|-row tertile thresholds and the 1-row vocab scalar
    // must reach the scored docs as broadcasts; the LM join keys are
    // vocabulary-bounded so nothing may degenerate to a cross product
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(2000))
  }

  test("t54: the benchmark window set probes as a broadcast") {
    val p = plan("t54_decontamination")
    // the eval-slice n-gram set is benchmark-bounded, so the
    // training-corpus probe must be a broadcast hash join over the
    // fused window kernel — never a corpus-sized shuffle or a
    // string-window exchange
    assert(p.contains("ngram_hashes"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("t55: the sampler is map-only over the corpus") {
    val p = plan("t55_temperature_sampling")
    // the |sources|-row probability table must reach the doc scan as
    // a broadcast; the only aggregation is the bounded source-count
    // rollup — the corpus itself is never sort-merge joined
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
  }

  test("s27: centroid and threshold tables broadcast over map-only scans") {
    val p = plan("s27_embedding_outliers")
    // ≤|labels|-row model tables must reach the vector scan as
    // broadcasts; nothing corpus-sized may sort-merge or cross join
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
  }

  test("s25: queries broadcast; the greedy is one object aggregate") {
    val p = plan("s25_mmr_rerank")
    // the 8-query side broadcasts over one corpus scan; the greedy
    // itself is a typed-Aggregator object aggregate over the ≤20-row
    // shortlists — never a join against the corpus
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("ObjectHashAggregate") ||
      p.contains("SortAggregate"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("e33: first-week is a window min, not a self-join") {
    val p = plan("e33_retention_cohorts")
    // only the offset-0 diagonal joins back, and it broadcasts
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("s31: coded bitext mining has NO cartesian leg — cid equi-joins only") {
    // the whole point of the s29→s31 twin: the label-0 × label-1
    // cross join is replaced by probe-exploded equi-joins on the
    // coded table's cell id. A cartesian or nested-loop join
    // anywhere in the plan means the scale path regressed to the
    // anchor's shape.
    val p = plan("s31_bitext_coded")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the ADC fold rides the codegen'd kernel, not an HOF fold
    assert(p.contains("adc_score"), p.take(800))
  }

  test("s29 vs s31: the anchor IS the cartesian; the twin must never be") {
    // documents (rather than hides) the anchor's shape: s29's exact
    // leg is a deliberate cross join at oracle scale
    val p29 = plan("s29_bitext_mining")
    assert(p29.contains("CartesianProduct") ||
      p29.contains("BroadcastNestedLoopJoin"), p29.take(800))
  }

  test("s34: SemDeDup pairs form on cid equi-joins — never a cartesian") {
    // the paper's whole claim: pair generation is CELL-scoped. A
    // cartesian/nested-loop anywhere means the k ∝ N scaling story
    // is fiction; the a.rk < b.rk half is a post-join filter on a
    // cid-keyed join, not a join condition that degenerates.
    val p = plan("s34_semdedup")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("t64: the bloom bit test sits BELOW the verify join") {
    val p = plan("t64_bloom_decontam")
    // probe side: xxhash64 bit tests appear as a Filter on the scan
    // side of the (broadcast) verify join, so at 100 TB the corpus
    // sheds non-members before any join machinery
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("xxhash64"), p.take(1200))
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(p.indexOf("xxhash64", joinIdx) > joinIdx,
      "bloom bit test must be on the probe side under the join")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("t65: candidates equi-join on shingle hashes; texts join back " +
    "only after the pair set is distinct") {
    val p = plan("t65_editdist_pairs")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the thresholded (banded) kernel, not plain levenshtein(l, r):
    // the physical plan carries the threshold literal
    assert(p.contains("levenshtein"), p.take(1200))
    assert(p.contains("levenshtein(ta") || p.contains(", 64)"),
      "expected the 3-arg thresholded levenshtein in the plan")
  }

  test("m22: the resampler is map-only — decode batches, no shuffle " +
    "before the final sort") {
    val p = plan("m22_audio_resample")
    // one Exchange only: the orderBy's range partitioning. The
    // decode+resample must not introduce a data shuffle of samples.
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"$exchanges exchanges:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("t66/t67: corpus-sized relations never enter a window — the " +
    "rank runs over the term-count table, the lag over the spine") {
    val p66 = plan("t66_zipf_fit")
    // the row_number window consumes the (source, term, freq)
    // aggregate, so a HashAggregate must sit BELOW the Window node
    val w66 = p66.indexOf("Window")
    val agg66 = p66.lastIndexOf("HashAggregate")
    assert(w66 >= 0 && agg66 > w66,
      s"expected an aggregate below the rank window:\n${p66.take(1200)}")
    assert(!p66.contains("CartesianProduct"))
    val p67 = plan("t67_heaps_law")
    // budgets arrive broadcast — the non-equi range join must be a
    // BroadcastNestedLoopJoin against the 13-row spine, never a
    // shuffled cartesian
    assert(p67.contains("BroadcastNestedLoopJoin"), p67.take(800))
    assert(!p67.contains("CartesianProduct"), p67.take(800))
    // the round-12 per-source rank must stay two-level: every window
    // (in-bucket row_number, bucket-offset prefix) is PARTITIONED —
    // a SinglePartition exchange would mean a global rank crept in
    assert(!p67.contains("Exchange SinglePartition"), p67.take(1200))
  }

  test("s35: one bucket join serves the whole sweep — band-key " +
    "equi-join, spine broadcast, no cartesian") {
    val p = plan("s35_lsh_sweep")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the pair source is a SortMergeJoin/ShuffledHashJoin on
    // (tbl, 4-bit key) — an equi-join, visible as join keys k#
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("s35: distinct-vector reps come from a window only when vectors repeat") {
    // duplicate-free vectors: the sweep reads the table itself
    assert(!Collapse.embHasDups(spark, sf0001))
    val q = plan("s35_lsh_sweep")
    Scoped.release()
    assert(!q.contains("Window"), q.take(800))
    assert(q.contains("hyperplane_sigs"), q.take(800))
    // duplicated vectors: one min-per-vector window picks the reps
    assert(Collapse.embHasDups(spark, dupCorpus))
    val p = plan("s35_lsh_sweep", dupCorpus)
    Scoped.release()
    assert(p.contains("Window"), p.take(800))
    assert(p.contains("hyperplane_sigs"), p.take(800))
  }

  test("m23: the pHash is map-only decode — no exchange before the " +
    "final sort") {
    val p = plan("m23_phash")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"$exchanges exchanges:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("e35: the disorder window partitions by hour — no global " +
    "single-partition window") {
    val p = plan("e35_disorder_audit")
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("Exchange SinglePartition"),
      s"global window leaked:\n${p.take(1200)}")
  }
}
