package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping over plain parquet — the Delta/Iceberg
  * "statistics in the transaction log" idea (min/max per file per
  * column, prune files whose range cannot satisfy the predicate)
  * rebuilt on the same no-Delta-jars footing as
  * [[BronzeMerge]]'s log. The reference's bronze sink
  * (`/root/reference/config.py:16`) names a Lakehouse Delta table,
  * whose engine does exactly this pruning on read; here it is explicit
  * and testable.
  *
  * Why this is THE 100 TB lever: a filter pushed into a parquet scan
  * still *opens* every file to read its footer. With ~800 k files at
  * 128 MB each, listing+footer I/O alone dominates a selective query.
  * File-level stats move the decision to O(files) METADATA rows — the
  * stats table for 800 k files is a few MB, and a predicate touching
  * 1% of the value range opens ~1% of the files. Combined with
  * [[graft.functions.ZOrderCodec z-order clustering]] the same stats
  * prune on EVERY clustered column, not just the sort leader.
  *
  * Layout: `<dir>/_graft_stats/` (parquet: `_file`, `min_<c>`,
  * `max_<c>` per stat column). The `_`-prefixed name makes it
  * invisible to Spark's default path filter, so `spark.read
  * .parquet(dir)` still sees only data files.
  *
  * Pruning is a SUPERSET guarantee: a kept file may hold no matching
  * rows (the residual filter still runs — Spark re-checks every
  * predicate), a dropped file provably holds none. All-null files
  * (null min/max) are always kept — null-safe conservatism.
  */
object DataSkipping {

  val StatsDir = "_graft_stats"

  /** Compute per-file min/max for `cols` over every data file in
    * `dir` and write the stats table. One distributed pass: the
    * aggregation is a groupBy on `input_file_name()` — partial aggs
    * combine map-side, the shuffle carries O(files × cols) tiny rows.
    * Returns the number of files covered. */
  def writeStats(spark: SparkSession, dir: String,
      cols: Seq[String]): Long = {
    require(cols.nonEmpty, "at least one stats column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val stats = spark.read.parquet(dir)
      .withColumn("_file", input_file_name())
      .groupBy(col("_file"))
      .agg(aggs.head, aggs.tail: _*)
    stats.write.mode(SaveMode.Overwrite)
      .parquet(new Path(dir, StatsDir).toString)
    spark.read.parquet(new Path(dir, StatsDir).toString).count()
  }

  /** Files whose [min,max] range for `c` intersects [lo, hi] —
    * (kept paths, total files). The stats read is O(files) metadata;
    * the driver holds only the kept path list (Delta replays its log
    * on the driver the same way). */
  def prunedPaths(spark: SparkSession, dir: String, c: String,
      lo: Any, hi: Any): (Seq[String], Long) = {
    val st = spark.read.parquet(new Path(dir, StatsDir).toString)
    val total = st.count()
    val kept = st.filter(
        col(s"min_$c").isNull || // all-null file: keep, conservatively
          !(col(s"max_$c") < lit(lo) || col(s"min_$c") > lit(hi)))
      .select(col("_file")).collect().map(_.getString(0)).toSeq
    (kept, total)
  }

  /** Range-predicate read that opens only files the stats admit, then
    * applies the exact filter to the survivors (skipping is a superset
    * — the residual filter is NOT optional). Equivalent to
    * `spark.read.parquet(dir).filter(c between (lo, hi))`, minus the
    * skipped file I/O. */
  def readBetween(spark: SparkSession, dir: String, c: String,
      lo: Any, hi: Any): DataFrame = {
    val (kept, _) = prunedPaths(spark, dir, c, lo, hi)
    val base =
      if (kept.isEmpty) spark.read.parquet(dir).filter(lit(false))
      else spark.read.parquet(kept: _*)
    base.filter(col(c).between(lit(lo), lit(hi)))
  }
}
