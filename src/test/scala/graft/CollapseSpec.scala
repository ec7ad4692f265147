package graft

import graft.ops.Collapse
import org.apache.spark.sql.DataFrame
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
    "t19_bigram_lm", "t23_passage_dedup", "t28_span_dedup",
    "t40_bpe_tokenize", "t43_boiler_ngrams", "t47_langid_metrics",
    "t50_ngram_novelty", "t54_decontamination", "t65_editdist_pairs",
    "t68_bpe_fertility", "t69_bottomk_containment",
    "s04_neardup_pairs", "s05_ann_lsh", "s12_semantic_dedup",
    "s23_neardup_pairs_lsh")

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

  private def rows(df: DataFrame): Seq[String] =
    try df.collect().map(_.toString).sorted.toSeq
    finally Scoped.release()

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
    // definition itself: every doc its own representative
    Collapse.assumeDups(spark, dir, hasDups = false)
    assertSame(viaReps, outputs(dir))
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
      val windowGroups = Collapse.embDupMapping(spark, dir,
          Some(Tables.embeddings(spark, dir)))
        .filter(col("vec_id") =!= col("rep")).count() > 0
      Scoped.release()
      info(s"$name: grouped = $windowGroups")
      assert(Collapse.embHasDups(spark, dir) == windowGroups, name)
    }
  }
}
