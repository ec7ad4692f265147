package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-side scale rehearsal (SCALE.md): the s-family has
  * oracle fixtures of ≤2k vectors — three orders of magnitude below
  * anything interesting. This harness runs the SCALE PATHS (never the
  * exact anchors) over the 500k×64 distinct-vector corpus
  * `tools/make_embsf1.py` synthesizes (90% base / 8% planted
  * near-dups at ~0.997 cosine / 2% exact dups) and reports the two
  * numbers the paths are trusted for:
  *
  *  - **LSH catch rate**: of a 512-vector sample's brute-force best
  *    matches at cos ≥ 0.9, the fraction the 22-bit × 16-table
  *    Hamming-1 candidate generator catches. 22 bits because
  *    occupancy is N/2^bits per table and candidate volume — which
  *    the verify join multiplies by two embeddings — scales with it:
  *    the [[graft.ops.Similarity.lshCandidatePairs]] `nBits` knob
  *    doing its job (8-bit signatures at 500k would mean ~2k-resident
  *    buckets and a quadratic candidate explosion; this harness is
  *    WHY that knob exists).
  *  - **IVF-PQ recall@5**: the stored coded table's s16-shaped search
  *    against brute-force exact cosine for the query set.
  *
  * Run: `SPARK_GRAFT_EMB_DIR=/tmp/embsf1 sbt "runMain graft.EmbScale"`.
  */
object EmbScale {
  private def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"EMBSCALE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_EMB_DIR", "/tmp/embsf1")
    val spark = Sessions.local()
      // the 500k corpus is ONE ~130 MB parquet file: at the default
      // 128 MB split it scans as 2 partitions and every pre-shuffle
      // stage (k-means assignment, LSH signatures, PQ encode) runs
      // 2-wide on a 32-thread session — the round-11 semdedup
      // rehearsal measured 1.3 busy cores. 4 MB splits ⇒ ~32 scan
      // tasks; on a real cluster the corpus arrives as many files
      // and this knob is moot, which is WHY the single-file fixture
      // needs it spelled out.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // VecDavg aggregates through ObjectHashAggregate, whose
      // sort-based fallback triggers at 128 DISTINCT GROUPS by
      // default — k = 1024 cells would demote the centroid update to
      // a per-partition SORT of the full vector relation every
      // iteration. 1024 groups × ~600-byte buffers is ~600 KB per
      // task: hashing is the right mode at any k this harness runs.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Similarity

    val e = Tables.embeddings(spark, d)
    val n = e.count()
    println(s"EMBSCALE corpus $d: $n vectors")

    // SPARK_GRAFT_SWEEP=1 turns each stage into ITS SWEEP (the s32/
    // s33/s35 axes at 500k): bits ∈ {20,22,24} for the LSH catch
    // rate, nprobe ∈ {1,2,4,8} over the stored coded table, PQ
    // m ∈ {8,16} for the bytes axis, and semK ∈ {512,1024,2048} for
    // s34's k ∝ N sizing. Default (unset) keeps the single-point
    // rehearsal. No sweep point adds a cartesian leg — each is the
    // same bucketed/coded plan at a different knob value.
    val sweepMode = sys.env.contains("SPARK_GRAFT_SWEEP")

    // SPARK_GRAFT_SKIP_LSH=1 skips straight to the IVF-PQ half (the
    // LSH stages don't depend on the PQ parameters being swept)
    if (sys.env.get("SPARK_GRAFT_SKIP_LSH").isEmpty) {
    // ---- 1. LSH candidates at the right bit width ----
    // nBits = 22 ⇒ 4.2M buckets/table, occupancy ~0.12 at 500k:
    // ~44 random candidates per vector across 16 tables × 23 probe
    // keys (≈11M verify pairs — each pair drags two 256-byte
    // embeddings through the verify join, so CANDIDATE volume is the
    // real cost driver; the first rehearsal at 18 bits produced ~580
    // candidates/vector and spilled ~70 GB into the verify join
    // before filling the disk). Recall at the 0.9 threshold:
    // per-bit agreement p ≈ 0.857 ⇒ per-table (exact + Hamming-1)
    // ≈ 0.147 ⇒ 16 tables ≈ 0.92 expected.
    // ---- 2. brute-force truth for a 512-vector sample ----
    //      (sample × corpus, NOT corpus × corpus — the rehearsal
    //      never runs a cartesian leg; 512 × 500k fused dots)
    val truth = time("brute_truth_sample") {
      val sample = e.filter(col("vec_id") % 977 === 0) // ~512 ids
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          graft.functions.VectorExprs.vecNorm(col("embedding")).as("nq"))
      // argmax by AGGREGATION, not a window: the 512 × 500k scored
      // relation never sorts — map-side partial max(struct) per qid,
      // one tiny shuffle (the first cut windowed 256M rows and was
      // the rehearsal's wall-clock, not the scoring)
      val best = e.crossJoin(broadcast(sample))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"),
          struct(
            (graft.functions.VectorExprs.vecDot(col("qv"), col("embedding")) /
              (col("nq") *
                graft.functions.VectorExprs.vecNorm(col("embedding"))))
              .as("cos"),
            (-col("vec_id")).as("negid"),
            col("vec_id").as("best")).as("cand"))
        .groupBy(col("qid"))
        .agg(max(col("cand")).as("b")) // max cos, ties → lowest vec_id
        .select(col("qid"), col("b.best").as("best"),
          col("b.cos").as("cos"))
        .filter(col("cos") >= 0.9)
      val t = graft.Scoped.persist(best)
      println(s"EMBSCALE   sample best-matches at cos ≥ 0.9: ${t.count()}")
      t
    }

    // ---- 1. LSH candidates — the s35 BITS axis at 500k ----
    // catch rate per signature width against the SAME brute truth:
    // the bucketed candidate plan at each width, never a cartesian.
    // (22-bit single point by default; {20, 22, 24} under SWEEP —
    // each width is a fresh signature+bucket join, so the sweep cost
    // is linear in its points.)
    val total = truth.count()
    val bitSweep = if (sweepMode) Seq(20, 22, 24) else Seq(22)
    for (nBits <- bitSweep) {
      val cands = time(s"lsh_pairs_${nBits}bit") {
        val p = Similarity.neardupEdges(spark, d, allPairs = false,
          thresh = 0.9, nBits = nBits)
        graft.Scoped.persist(p)
        println(s"EMBSCALE   verified pairs (cos >= 0.9): ${p.count()}")
        p
      }
      // catch rate: truth pair present in the verified LSH pair list
      // (either orientation)
      val caught = truth
        .join(cands.select(
            least(col("va"), col("vb")).as("qlo"),
            greatest(col("va"), col("vb")).as("qhi")).distinct(),
          least(col("qid"), col("best")) === col("qlo") &&
            greatest(col("qid"), col("best")) === col("qhi"),
          "left_semi")
        .count()
      val rate = if (total == 0) 1.0 else caught.toDouble / total
      println(
        f"EMBSCALE   LSH catch rate @${nBits}bit: $caught/$total = $rate%.4f")
      cands.unpersist(blocking = false)
    }
    }

    // ---- 3. stored IVF-PQ: build once, query the s16 shape ----
    // PRODUCTION parameters, not the ≤2k-fixture toys: k = 256
    // codebook entries per subspace (8 bits/code — standard PQ; the
    // fixtures' k = 16 is 4 bits, and the first rehearsal measured
    // recall@5 = 0.20 with it at 500k — quantization cells too
    // coarse to discriminate half a million vectors), kCells = 64
    // coarse cells (~7.8k vectors each), nprobe = 8 (~12% of the
    // corpus scanned as 8-byte codes per query).
    // SPARK_GRAFT_PQ_M=16 doubles the code bytes (16 × 4-dim
    // subspaces) for the recall-vs-bytes datapoint
    // SPARK_GRAFT_SKIP_PQ=1 skips the coded-table half (mirrors
    // SKIP_LSH — the SemDeDup stage below is independent of both)
    if (sys.env.get("SPARK_GRAFT_SKIP_PQ").isEmpty) {
    val (k, kCells) = (256, 64)
    val exact5 = time("brute_top5_queries") {
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // 8 qids × 500k = 4M rows: a window here is fine
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (graft.functions.VectorExprs.vecDot(col("qv"), col("embedding")) /
            (graft.functions.VectorExprs.vecNorm(col("qv")) *
              graft.functions.VectorExprs.vecNorm(col("embedding"))))
            .as("cos"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid"))
            .orderBy(desc("cos"), col("vec_id"))))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    }
    // BYTES axis (s33 at 500k): m ∈ {8, 16} sub-spaces = 8 vs 16
    // code bytes/vector; PROBES axis (s32 at 500k): nprobe ∈
    // {1, 2, 4, 8} prefixes of the same probe ranking over ONE coded
    // table. Single point (m = SPARK_GRAFT_PQ_M, nprobe = 8) unless
    // sweeping.
    val mSweep =
      if (sweepMode) Seq(8, 16)
      else Seq(sys.env.getOrElse("SPARK_GRAFT_PQ_M", "8").toInt)
    for (m <- mSweep) {
      val coded = time(s"coded_table_build_m$m") {
        val path = Similarity.codedCorpusPath(spark, d, m, k, kCells)
        val df = spark.read.parquet(path)
        println(s"EMBSCALE   coded rows: ${df.count()} at $path")
        df
      }
      val probeSweep = if (sweepMode) Seq(1, 2, 4, 8) else Seq(8)
      for (nprobe <- probeSweep) {
        val s16 = time(s"ivfpq_stored_query_m${m}_np$nprobe") {
          val r = Similarity.ivfPqSearch(spark, d, coded, e, m, k, kCells,
            nprobe)
          val rows = r.collect()
          rows.map(x => (x.getLong(0), x.getLong(1))).toSet
        }
        val recall = s16.intersect(exact5).size.toDouble / exact5.size
        println(f"EMBSCALE   IVF-PQ recall@5 m=$m nprobe=$nprobe: " +
          f"$recall%.4f")
      }
    }
    }

    // ---- 4. SemDeDup at k ∝ N: the s34 code path with the paper's
    //      actual scaling lever. The fixture query runs k = 8 so the
    //      unrolled oracle stays replayable; HERE cells must stay
    //      small enough that Σ C(|cell|, 2) is linear-ish in N —
    //      k = 1024 over 500k vectors ⇒ ~490/cell ⇒ ~1.2e8 in-cell
    //      pairs total (vs 1.25e11 corpus-wide). iters = 3: the
    //      cells only bucket the pair search, they are not a learned
    //      model anyone queries — bucketing quality saturates fast.
    //      eps = 0.95: the corpus plants near-dups at ~0.997 cosine
    //      (8%) + exact dups (2%) over a base of ~orthogonal random
    //      vectors, so the removed fraction should land ≈ 0.10 with
    //      essentially no base-pair leakage. ----
    // k ∝ N sizing curve under SWEEP: halving/doubling k around the
    // N/500 operating point shows the Σ C(|cell|, 2) lever directly
    // (in-cell pair volume ~doubles at k/2, ~halves at 2k) while the
    // removed fraction stays pinned at the planted 10% — the s34
    // scaling argument as numbers, not prose.
    val semKs =
      if (sweepMode) Seq(512, 1024, 2048)
      else Seq(sys.env.getOrElse("SPARK_GRAFT_SEM_K", "1024").toInt)
    for (semK <- semKs) {
      time(s"semdedup_train_k$semK") {
        // memoized: splits the training loop out of the stage below
        Similarity.kMeansModel(spark, d, k = semK, iters = 3)
      }
      time(s"semdedup_k$semK") {
        val out = Similarity.semDedupCells(spark, d, k = semK,
          iters = 3, eps = 0.95)
        val r = out.agg(sum(col("n_members")), sum(col("n_removed")),
          max(col("n_members"))).head()
        val (mem, rem, big) = (r.getLong(0), r.getLong(1), r.getLong(2))
        println(f"EMBSCALE   semdedup k=$semK members=$mem removed=$rem " +
          f"(${rem.toDouble / mem}%.4f) largest cell=$big")
      }
    }

    Scoped.release()
    spark.stop()
  }
}
