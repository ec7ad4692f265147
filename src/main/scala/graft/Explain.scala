package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection tool: prints the formatted physical plan for the
  * named queries (all queries if none named). Usage:
  *   runMain graft.Explain <sfDir> [queryName...]
  * Look for: PushedFilters on parquet scans, ReadSchema pruned to the
  * referenced columns, BroadcastHashJoin on dimension joins,
  * WholeStageCodegen spans covering the hot expressions.
  *
  * Each query's header counts the `Exchange SinglePartition`s of its
  * executed plan (global windows, sorts and single-row aggregates all
  * compile to one). Each must be over a BOUNDED relation (day spines,
  * bucket spines, model tables, 1-row totals) — one over a
  * corpus-sized relation is a scale bug. The audit over every query:
  *   runMain graft.Explain <sfDir> | grep '^=====' | grep -v ': 0 single'
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts NANOS
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val single = "Exchange SinglePartition".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
        println(s"\n========== $n: $single single-partition exchange(s) " +
          "==========")
        df.explain("formatted")
      } finally Scoped.release()
    }
    spark.stop()
  }
}
