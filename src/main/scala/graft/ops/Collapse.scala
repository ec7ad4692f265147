package graft.ops

import graft.{Scoped, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The exact-duplicate collapse: operators whose per-row work is a
  * pure function of a text (or a vector) run it once per DISTINCT
  * value on a min-id representative, and members take their rep's
  * result — the weighted-representative idea of *Approximation
  * Algorithms for Large Scale Data Analysis* (PODS 2021), exact with
  * integer weights.
  *
  * The collapse itself costs a value-keyed window shuffle, a persist
  * and a re-attach join. On a corpus with no duplicates every weight
  * is 1 and all of that is overhead, so each corpus is probed ONCE per
  * session for duplicates ([[textHasDups]], [[embHasDups]]) and a
  * duplicate-free corpus gets the identity mapping (`rep` = id,
  * `m` = 1: no window, no persist) and kernels straight on the scan.
  * Output is identical either way; duplicated corpora keep the
  * collapsed plans. The choice is made here, never at a call site.
  */
object Collapse {
  private val probeMemo =
    new graft.VersionedSessionMemo[(String, String), java.lang.Boolean]

  /** Whether `d`'s `table` holds two rows with equal `key`, memoized
    * per (dir, table) and VERSIONED by [[Tables.dirFingerprint]] (the
    * `Text.corpusRows` pattern): a table rewritten within one session
    * re-probes. One grouped count over the key. */
  private def probe(s: SparkSession, d: String, table: String,
      key: Column): Boolean = {
    val fp = Tables.dirFingerprint(s, s"$d/$table.parquet")
    probeMemo.getOrCompute(s, (d, table), fp) {
      !Tables.table(s, d, table)
        .groupBy(key.as("k")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .isEmpty
    }
  }

  /** Does `d`'s `documents` hold two bit-identical texts? Grouped on
    * `xxhash64(text)`, which is exact in the direction that matters:
    * identical texts always share a hash, so no repeated hash proves
    * no duplicates; a collision only keeps the collapsed path. */
  private[graft] def textHasDups(s: SparkSession, d: String): Boolean =
    probe(s, d, "documents", xxhash64(col("text")))

  /** Does `d`'s `embeddings` hold two equal vectors? Grouped on the
    * vector itself, so -0.0/0.0 and NaN compare exactly as the
    * window in [[embDupMapping]] compares them. */
  private[graft] def embHasDups(s: SparkSession, d: String): Boolean =
    probe(s, d, "embeddings", col("embedding"))

  /** Spec hook: record both of `d`'s corpora, at their current files,
    * as holding duplicates or not, so later calls take that path —
    * how the specs run both paths on one corpus. Either path is exact
    * on any corpus (the identity mapping is the trivial collapse);
    * only the cost differs. A rewrite of the files re-probes. */
  private[graft] def assumeDups(s: SparkSession, d: String,
      hasDups: Boolean): Unit =
    Seq("documents", "embeddings").foreach { t =>
      probeMemo.put(s, (d, t),
        Tables.dirFingerprint(s, s"$d/$t.parquet"), hasDups)
    }

  /** (doc_id, text, rep, m) with rep = the min doc_id among
    * bit-identical texts and m = the group size (weighted-count
    * collapses read each rep's multiplicity). A corpus with
    * duplicates pays one text-keyed window pass, persisted for the
    * query; a duplicate-free one reads `rep = doc_id`, `m = 1` off the
    * scan. */
  private[ops] def textDupMapping(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    if (!textHasDups(s, d))
      docs.select(col("doc_id"), col("text"), col("doc_id").as("rep"),
        lit(1L).as("m"))
    else
      Scoped.persist(docs
        .withColumn("rep",
          min(col("doc_id")).over(Window.partitionBy(col("text"))))
        // group size rides the SAME window pass (zero extra shuffle)
        .withColumn("m",
          count(lit(1)).over(Window.partitionBy(col("text")))))
  }

  /** [[textDupMapping]] with each doc's (source, lang) slice keys in
    * place of `m`: consumers that roll up per corpus slice read the
    * keys off the same pass instead of re-joining documents. */
  private def textDupMappingSl(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
    if (!textHasDups(s, d)) docs.withColumn("rep", col("doc_id"))
    else
      Scoped.persist(docs.withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("text")))))
  }

  /** Per-text kernel columns `stats` (pure functions of the document's
    * text) for every document, beside its own `keep` columns. With
    * duplicates: the kernel runs once per distinct text on the rep
    * rows and members re-attach by rep. Duplicate-free: the kernel
    * runs straight on the scan, no mapping and no join. `barrier`
    * persists the rows the kernel is evaluated on, so a later filter
    * on a kernel output cannot be substituted back into a pushed
    * `Filter` and evaluate the kernel twice. */
  private[ops] def perText(s: SparkSession, d: String, keep: Seq[String],
      stats: Seq[Column], barrier: Boolean = false): DataFrame = {
    def pin(df: DataFrame) = if (barrier) Scoped.persist(df) else df
    if (!textHasDups(s, d))
      pin(Tables.documents(s, d).select(keep.map(col) ++ stats: _*))
    else {
      // the slice mapping only when a kept column needs its keys
      val mapping =
        if (keep.forall(Set("doc_id", "text"))) textDupMapping(s, d)
        else textDupMappingSl(s, d)
      val repStats = pin(mapping.filter(col("doc_id") === col("rep"))
        .select(col("rep") +: stats: _*))
      mapping.select((keep :+ "rep").map(col): _*)
        .join(repStats, "rep").drop("rep")
    }
  }

  /** A relation keyed by `rep` attached to every member document,
    * keyed by `doc_id` (`mapping` is the [[textDupMapping]] that
    * produced the reps). With duplicates, members join their rep's
    * rows. Duplicate-free, every doc is its own rep, so the rows are
    * already keyed by doc and need no join. */
  private[ops] def toMembers(s: SparkSession, d: String, mapping: DataFrame,
      byRep: DataFrame): DataFrame =
    if (!textHasDups(s, d)) byRep.withColumnRenamed("rep", "doc_id")
    else mapping.select(col("doc_id"), col("rep")).join(byRep, "rep")

  /** (vec_id, embedding, rep) with rep = the min vec_id among equal
    * vectors. `corpus` defaults to `d`'s embeddings table; only that
    * table is probed, so an explicit corpus always pays the window
    * pass (persisted for the query), and a duplicate-free table reads
    * `rep = vec_id` off the scan. */
  private[graft] def embDupMapping(s: SparkSession, d: String,
      corpus: Option[DataFrame]): DataFrame = {
    val vecs = corpus.getOrElse(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"))
    if (corpus.isEmpty && !embHasDups(s, d))
      vecs.withColumn("rep", col("vec_id"))
    else
      Scoped.persist(vecs.withColumn("rep",
        min(col("vec_id")).over(Window.partitionBy(col("embedding")))))
  }

  /** A vector pair operator's `uncollapsed` pipeline when `corpus` is
    * `d`'s own embeddings table and it holds no duplicate vectors;
    * otherwise `collapsed` over the [[embDupMapping]]. */
  private[ops] def vectorPairs(s: SparkSession, d: String,
      corpus: Option[DataFrame])(uncollapsed: => DataFrame)(
      collapsed: DataFrame => DataFrame): DataFrame =
    if (corpus.isEmpty && !embHasDups(s, d)) uncollapsed
    else collapsed(embDupMapping(s, d, corpus))
}
