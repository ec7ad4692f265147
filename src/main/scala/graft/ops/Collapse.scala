package graft.ops

import graft.{Scoped, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The exact-duplicate collapse. An operator whose per-row work is a
  * pure function of a row's text (or vector) runs it once per DISTINCT
  * value, on a representative — the min id among the rows that share
  * the value — and every member takes its rep's result: identical
  * input gives bit-identical arithmetic, so no row can tell the
  * difference. Corpus-wide statistics stay exact through integer
  * weights summed over each group: Σ over rows of f(value) is Σ over
  * reps of f(value)·w, with w = the group size `m` or any per-row flag
  * summed over the group. Pair operators compare reps only, then
  * expand each rep pair to its members' pairs, which carry the rep
  * pair's payload; two members of one group form an intra-group pair
  * whose payload is the value compared with itself. This is the
  * weighted-representative idea of *Approximation Algorithms for
  * Large Scale Data Analysis* (PODS 2021), exact with integer weights.
  * Every collapsed operator goes through one [[Mapping]]; the call
  * sites state only why their kernel is a pure function of the value
  * and which weight they sum.
  *
  * The collapse itself costs a value-keyed window shuffle, a persist
  * and re-attach joins. On a corpus with no duplicates every weight
  * is 1 and all of that is overhead, so each corpus is probed ONCE per
  * session for duplicates ([[textHasDups]], [[embHasDups]]) and a
  * duplicate-free corpus gets the identity mapping: the scan with
  * `rep` = id, on which no [[Mapping]] method adds a window, a member
  * join, a union or a spill — `reps` and `perText` read the scan,
  * `toMembers` and `expandPairs` return the rep relation renamed, and
  * `attach` is only its own left join. Output is identical either
  * way. The choice is made here, never at a call site.
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
    * window in [[vectors]] compares them. */
  private[graft] def embHasDups(s: SparkSession, d: String): Boolean =
    probe(s, d, "embeddings", col("embedding"))

  /** Spec hook: record both of `d`'s corpora, at their current files,
    * as holding duplicates or not, so later calls take that path —
    * how the specs run both paths on one corpus. Where the mapping
    * only shares work, either path is exact on any corpus (the
    * identity mapping is the trivial collapse) and only the cost
    * differs; an operator whose output is defined over distinct
    * values (t24's and t62's dedup gate, s35's distinct-vector sweep)
    * needs the collapsed path wherever duplicates exist. A rewrite of
    * the files re-probes. */
  private[graft] def assumeDups(s: SparkSession, d: String,
      hasDups: Boolean): Unit =
    Seq("documents", "embeddings").foreach { t =>
      probeMemo.put(s, (d, t),
        Tables.dirFingerprint(s, s"$d/$t.parquet"), hasDups)
    }

  /** One corpus's min-id representative mapping. `rows` holds every
    * row's id, value, caller-kept columns, `rep` and weights. Collapsed:
    * one value-keyed window pass, persisted for the query. Identity
    * (the probe found no duplicates): the scan, `rep` = id, each
    * weight its own row's value. */
  final class Mapping private[Collapse] (val rows: DataFrame, id: String,
      pair: (String, String), private[Collapse] val collapsed: Boolean) {

    /** One row per distinct value, its representative's. The rep
      * filter stays on the identity path: it only drops null ids. */
    def reps: DataFrame = rows.filter(col(id) === col("rep"))

    /** A `rep`-keyed relation read per member, keyed by the id (inner:
      * a member whose rep has no row has none). */
    def toMembers(byRep: DataFrame): DataFrame =
      if (!collapsed) byRep.withColumnRenamed("rep", id)
      else rows.select(col(id), col("rep")).join(byRep, "rep")

    /** Every member with its `own` columns (evaluated on [[rows]]) and
      * its rep's `byRep` row, left-joined: where the rep has no row,
      * each `byRep` column reads 0. */
    def attach(byRep: DataFrame, own: Column*): DataFrame = {
      val zero = byRep.schema.fields.collect {
        case f if f.name != "rep" => f.name -> f.dataType
      }.toMap
      val joined = rows.select(col(id) +: col("rep") +: own: _*)
        .join(byRep, Seq("rep"), "left")
      joined.select(joined.columns.toSeq.filter(_ != "rep").map(c =>
        zero.get(c).fold(col(c))(t =>
          coalesce(col(c), lit(0).cast(t)).as(c))): _*)
    }

    /** The per-value kernel columns `stats` for every row, beside its
      * `keep` columns of [[rows]]. Collapsed: the kernel runs on the
      * rep rows and members re-attach by rep. Identity: straight on
      * the scan. `barrier` persists the rows the kernel is evaluated
      * on, so a later filter on a kernel output cannot be substituted
      * back into a pushed `Filter` and evaluate the kernel twice. */
    def perText(keep: Seq[String], stats: Seq[Column],
        barrier: Boolean = false): DataFrame = {
      def pin(df: DataFrame) = if (barrier) Scoped.persist(df) else df
      if (!collapsed) pin(rows.select(keep.map(col) ++ stats: _*))
      else {
        val repStats = pin(reps.select(col("rep") +: stats: _*))
        rows.select((keep :+ "rep").map(col): _*)
          .join(repStats, "rep").drop("rep")
      }
    }

    /** Member pairs, named (da, db) for texts and (va, vb) for
      * vectors, of the rep pairs `repPairs` (ra, rb, payload…). The
      * cross leg pairs every member of ra's group with every member of
      * rb's and carries the rep pair's payload; the intra leg pairs
      * every two members of one group, for each `intra` row (rep,
      * payload…). Symmetric: rep pairs come with ra < rb, member pairs
      * leave with a < b, and each `swap` column pair is exchanged where
      * the members cross over. `directed`: every ordered member pair.
      * At most `maxMembers` members of a group (its smallest ids) take
      * part. Identity: the rep pairs are the member pairs. */
    def expandPairs(repPairs: DataFrame, intra: DataFrame,
        directed: Boolean = false, swap: Seq[(String, String)] = Nil,
        maxMembers: Int = Int.MaxValue): DataFrame = {
      val (a, b) = pair
      if (!collapsed)
        repPairs.withColumnRenamed("ra", a).withColumnRenamed("rb", b)
      else {
        val all = rows.select(col("rep"), col(id))
        val members =
          if (maxMembers == Int.MaxValue) all
          else all.withColumn("mrank", row_number().over(
              Window.partitionBy(col("rep")).orderBy(col(id))))
            .filter(col("mrank") <= maxMembers).drop("mrank")
        val payload = repPairs.columns.toSeq.filterNot(Set("ra", "rb"))
        val (ma, mb) = (col("ma"), col("mb"))
        val swapped = (swap ++ swap.map(_.swap)).toMap
        val cross = repPairs
          .join(members.toDF("ra", "ma"), "ra")
          .join(members.toDF("rb", "mb"), "rb")
          .select(Seq(
            (if (directed) ma else least(ma, mb)).as(a),
            (if (directed) mb else greatest(ma, mb)).as(b)) ++
            payload.map(c => swapped.get(c).fold(col(c))(o =>
              when(ma < mb, col(c)).otherwise(col(o)).as(c))): _*)
        val inGroup = members.toDF("rep", "ma")
          .join(intra, "rep")
          .join(members.toDF("rep", "mb"), "rep")
          .filter(if (directed) ma =!= mb else ma < mb)
          .select(Seq(ma.as(a), mb.as(b)) ++ payload.map(col): _*)
        cross.unionByName(inGroup)
      }
    }
  }

  /** The mapping of `table` on `value`: `rep` = the min `id` among the
    * rows with an equal `value`, and each named weight summed over the
    * group. */
  private def build(table: DataFrame, id: String, value: String,
      keep: Seq[String], weights: Seq[(String, Column)],
      pair: (String, String), collapsed: Boolean): Mapping = {
    val kept = (Seq(id, value) ++ keep).distinct.map(col)
    val group = Window.partitionBy(col(value))
    val (rep, ws) =
      if (collapsed) (min(col(id)).over(group),
        weights.map { case (n, w) => sum(w).over(group).as(n) })
      else (col(id), weights.map { case (n, w) => w.as(n) })
    val rows = table.select(kept ++ (rep.as("rep") +: ws): _*)
    new Mapping(if (collapsed) Scoped.persist(rows) else rows, id, pair,
      collapsed)
  }

  /** `d`'s documents as (doc_id, text, `keep`…, rep, weights…); the
    * weights must be long-valued. The default weight `m` is the group
    * size. */
  private[graft] def texts(s: SparkSession, d: String,
      keep: Seq[String] = Nil,
      weights: Seq[(String, Column)] = Seq("m" -> lit(1L))): Mapping =
    build(Tables.documents(s, d), "doc_id", "text", keep, weights,
      ("da", "db"), textHasDups(s, d))

  /** (vec_id, embedding, rep) over `corpus`, by default `d`'s
    * embeddings table. Only that table is probed, so an explicit
    * corpus always takes the collapsed path. */
  private[graft] def vectors(s: SparkSession, d: String,
      corpus: Option[DataFrame] = None): Mapping =
    build(corpus.getOrElse(Tables.embeddings(s, d)), "vec_id",
      "embedding", Nil, Nil, ("va", "vb"),
      corpus.nonEmpty || embHasDups(s, d))

  /** A vector pair operator's `uncollapsed` pipeline when `corpus` is
    * `d`'s own embeddings table and it holds no duplicate vectors;
    * otherwise `collapsed` over the [[vectors]] mapping. */
  private[ops] def vectorPairs(s: SparkSession, d: String,
      corpus: Option[DataFrame])(uncollapsed: => DataFrame)(
      collapsed: Mapping => DataFrame): DataFrame = {
    val m = vectors(s, d, corpus)
    if (m.collapsed) collapsed(m) else uncollapsed
  }
}
