package graft

import graft.ops.Collapse
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The duplicate probe and the two paths of the exact-duplicate
  * collapse: a corpus without duplicates runs its kernels straight on
  * the scan, a corpus with duplicates runs them once per distinct
  * value, and both give the same rows on any corpus. */
class CollapseSpec extends SparkSpec {

  /** Every query whose plan reads the collapse and recomputes all of
    * it per call (no session-memoized relation in between). */
  private val collapsed = Seq(
    "t05_language_id", "t10_simhash", "t18_term_salience",
    "t19_bigram_lm", "t23_passage_dedup", "t24_curation_pipeline",
    "t28_span_dedup", "t40_bpe_tokenize", "t43_boiler_ngrams",
    "t47_langid_metrics", "t50_ngram_novelty", "t52_domain_affinity",
    "t53_perplexity_buckets", "t54_decontamination",
    "t57_containment_pairs", "t62_disposition_audit",
    "t65_editdist_pairs", "t68_bpe_fertility", "t69_bottomk_containment",
    "s04_neardup_pairs", "s05_ann_lsh", "s12_semantic_dedup",
    "s23_neardup_pairs_lsh", "s35_lsh_sweep")


  private val vocab = Seq("the", "fast", "key", "order", "sort", "table",
    "scan", "merge", "part", "window", "small", "hash", "join", "spark",
    "group", "query", "row", "data", "slow", "filter", "customer", "line",
    "batch", "value", "stream", "a", "de", "la", "und", "der")

  /** A corpus of base texts plus near-copies (one or two tokens
    * replaced) and base vectors plus jittered copies — near-duplicate
    * pairs for the pair operators, and no two texts or vectors equal.
    * `dupEvery` > 0 then adds a verbatim copy, under a new id with its
    * own lang and source, of every `dupEvery`-th text and vector. */
  private def corpus(seed: Int, dupEvery: Int = 0): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val langs = Seq("en", "de", "fr")
    val bases = Seq.fill(40)(
      Seq.fill(8 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))))
    val texts = (bases ++ bases.map { t =>
      val u = t.toArray
      (0 to rnd.nextInt(2)).foreach(_ =>
        u(rnd.nextInt(u.length)) = vocab(rnd.nextInt(vocab.size)))
      u.toSeq
    }).map(_.mkString(" ")).distinct
    val vBases = Seq.fill(30)(Seq.fill(64)(rnd.nextGaussian()))
    val vecs = (vBases ++ vBases.map(_.map(x => x + 0.2 * rnd.nextGaussian())))
      .map(_.map(_.toFloat)).distinct
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val dupDocs = if (dupEvery == 0) Nil else
      docs.filter(_._1 % dupEvery == 0).map { case (i, t) => (i + 1000L, t) }
    val vRows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val dupVecs = if (dupEvery == 0) Nil else
      vRows.filter(_._1 % dupEvery == 0).map { case (i, v) => (i + 1000L, v) }
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-collapse-$seed-").toString
    (docs ++ dupDocs)
      .map { case (i, t) => (i, t, langs(rnd.nextInt(3)),
        s"src${rnd.nextInt(3)}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (vRows ++ dupVecs).map { case (i, v) => (i, v, (i % 5).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def collectRows(df: DataFrame): Seq[Row] =
    try df.collect().toSeq
    finally Scoped.release()

  private def rows(df: DataFrame): Seq[String] =
    collectRows(df).map(_.toString).sorted

  private def outputs(dir: String): Map[String, Seq[String]] =
    collapsed.map(q => q -> rows(SparkEntry.queries(q)(spark, dir))).toMap

  private def assertSame(a: Map[String, Seq[String]],
      b: Map[String, Seq[String]]): Unit =
    collapsed.foreach { q =>
      assert(a(q).nonEmpty, s"$q: empty output")
      assert(a(q) == b(q), s"$q: the two paths disagree")
    }

  test("duplicate-free corpora: the scan path and the collapsed path agree") {
    Seq(1, 2).foreach { seed =>
      val dir = corpus(seed)
      assert(!Collapse.textHasDups(spark, dir))
      assert(!Collapse.embHasDups(spark, dir))
      val onScan = outputs(dir)
      Collapse.assumeDups(spark, dir, hasDups = true)
      assertSame(onScan, outputs(dir))
    }
  }

  test("duplicated corpus: the probe takes the collapsed path, same rows") {
    val dir = corpus(3, dupEvery = 3)
    assert(Collapse.textHasDups(spark, dir))
    assert(Collapse.embHasDups(spark, dir))
    val plan = SparkEntry.queries("t40_bpe_tokenize")(spark, dir)
      .queryExecution.executedPlan.toString
    Scoped.release()
    assert(plan.contains("Window"), plan.take(800))
    val viaReps = outputs(dir)
    // the scan path on a duplicated corpus is the uncollapsed
    // definition itself — every doc its own representative — except
    // where the output is defined over distinct values: t24 keeps one
    // copy per text, t62 marks the others "dup", s35 sweeps distinct
    // vectors. Those read the rep itself.
    Collapse.assumeDups(spark, dir, hasDups = false)
    val onScan = outputs(dir)
    // their uncollapsed definition: the copies (ids ≥ 1000) are never
    // their value's min id, so the base corpus, which has no
    // duplicates, decides every other row
    val base = corpus(3)
    val s35 = rows(SparkEntry.queries("s35_lsh_sweep")(spark, base))
    val copies = Tables.documents(spark, dir)
      .filter(col("doc_id") >= 1000L).collect().map(r => r.getLong(0))
    val t62 = (rows(SparkEntry.queries("t62_disposition_audit")(spark, base))
      ++ copies.map(id => Row(id, false, "dup").toString)).sorted
    // t24's n_docs/n_passed count every copy (the scan path on the
    // duplicated corpus); the kept columns are the base corpus's
    val t24 = SparkEntry.queries("t24_curation_pipeline")
    def bySource(d: String) =
      collectRows(t24(spark, d)).map(r => r.getString(0) -> r).toMap
    val (all, kept) = (bySource(dir), bySource(base))
    val t24Rows = all.keys.toSeq.map { src =>
      Row.fromSeq(all(src).toSeq.take(3) ++ kept(src).toSeq.drop(3)).toString
    }.sorted
    assert(t24Rows.size == 3 && t62.size > copies.length)
    assertSame(viaReps, onScan ++ Map("t24_curation_pipeline" -> t24Rows,
      "t62_disposition_audit" -> t62, "s35_lsh_sweep" -> s35))
    assert(onScan("t62_disposition_audit") != t62)
  }

  test("rewriting documents in-session to add a duplicate flips the probe") {
    import spark.implicits._
    val dir = corpus(4)
    val t40 = SparkEntry.queries("t40_bpe_tokenize")
    def plan = t40(spark, dir).queryExecution.executedPlan.toString
    assert(!Collapse.textHasDups(spark, dir))
    assert(!plan.contains("Window"))
    Scoped.release()
    val docs = Tables.documents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val first = docs.minBy(_._1)
    (docs :+ first.copy(_1 = 99999L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Collapse.textHasDups(spark, dir))
    assert(plan.contains("Window"))
    Scoped.release()
    val out = rows(t40(spark, dir))
    assert(out.size == docs.length + 1)
    Collapse.assumeDups(spark, dir, hasDups = false)
    assert(out == rows(t40(spark, dir)))
  }

  test("vector probe: ±0.0 and NaN count as duplicates exactly when the window groups them") {
    import spark.implicits._
    val nan2 = java.lang.Float.intBitsToFloat(0x7fc00001)
    val cases = Seq(
      "signed zero" -> Seq(Array(0.0f, 1f, 2f), Array(-0.0f, 1f, 2f)),
      "NaN" -> Seq(Array(Float.NaN, 1f, 2f), Array(Float.NaN, 1f, 2f)),
      "NaN payloads" -> Seq(Array(Float.NaN, 1f, 2f), Array(nan2, 1f, 2f)),
      "NaN vs number" -> Seq(Array(Float.NaN, 1f, 2f), Array(3f, 1f, 2f)),
      "distinct" -> Seq(Array(1f, 1f, 2f), Array(2f, 1f, 2f)))
    cases.foreach { case (name, vs) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-emb-probe-").toString
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("vec_id", "embedding")
        .write.parquet(s"$dir/embeddings.parquet")
      val windowGroups = Collapse.vectors(spark, dir,
          Some(Tables.embeddings(spark, dir))).rows
        .filter(col("vec_id") =!= col("rep")).count() > 0
      Scoped.release()
      info(s"$name: grouped = $windowGroups")
      assert(Collapse.embHasDups(spark, dir) == windowGroups, name)
    }
  }

  test("expandPairs: symmetric and directed member pairs match a brute-force enumeration") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    /** Rep groups of 1–4 members (one text each, at scattered ids) when
      * `dups`, else singletons; returns the dir and the groups, min
      * id first. */
    def groups(dups: Boolean): (String, Seq[Seq[Long]]) = {
      val ids = rnd.shuffle((1L to 200L).toList).iterator
      val gs = Seq.fill(12)(
        Seq.fill(if (dups) 1 + rnd.nextInt(4) else 1)(ids.next()).sorted)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-expand-").toString
      gs.zipWithIndex.flatMap { case (g, i) => g.map(id => (id, s"text $i")) }
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      (dir, gs)
    }
    for (dups <- Seq(true, false); forced <- Seq(false, true)) {
      val (dir, gs) = groups(dups)
      assert(Collapse.textHasDups(spark, dir) == dups)
      if (forced) Collapse.assumeDups(spark, dir, hasDups = true)
      val group = gs.map(g => g.head -> g).toMap
      val reps = group.keys.toSeq.sorted
      val ordered = for (a <- reps; b <- reps if a != b && rnd.nextInt(3) == 0)
        yield (a, b, rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)
      val intra = reps.filter(_ => rnd.nextBoolean())
        .map(r => (r, r % 7, r % 11))
      val mapping = Collapse.texts(spark, dir)
      def expanded(pairs: Seq[(Long, Long, Long, Long)], directed: Boolean,
          cap: Int): Seq[(Long, Long, Long, Long)] =
        try mapping.expandPairs(pairs.toDF("ra", "rb", "x", "y"),
            intra.toDF("rep", "x", "y"), directed = directed,
            swap = if (directed) Nil else Seq("x" -> "y"), maxMembers = cap)
          .select("da", "db", "x", "y").as[(Long, Long, Long, Long)]
          .collect().toSeq.sorted
        finally Scoped.release()
      // the plain member-pair enumeration
      def members(r: Long, cap: Int) = group(r).take(cap)
      val symPairs = ordered.filter(p => p._1 < p._2)
      for (cap <- Seq(Int.MaxValue, 2)) {
        val sym = (for ((ra, rb, x, y) <- symPairs; ma <- members(ra, cap);
            mb <- members(rb, cap))
          yield if (ma < mb) (ma, mb, x, y) else (mb, ma, y, x)) ++
          (for ((r, x, y) <- intra; ma <- members(r, cap);
            mb <- members(r, cap) if ma < mb) yield (ma, mb, x, y))
        assert(expanded(symPairs, directed = false, cap) == sym.sorted,
          s"symmetric, dups=$dups forced=$forced cap=$cap")
      }
      val dir2 = (for ((ra, rb, x, y) <- ordered; ma <- group(ra);
          mb <- group(rb)) yield (ma, mb, x, y)) ++
        (for ((r, x, y) <- intra; ma <- group(r); mb <- group(r)
          if ma != mb) yield (ma, mb, x, y))
      assert(expanded(ordered, directed = true, Int.MaxValue) == dir2.sorted,
        s"directed, dups=$dups forced=$forced")
    }
  }
}
