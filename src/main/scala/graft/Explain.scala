package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection tool: prints the formatted physical plan for the
  * named queries (all queries if none named). Usage:
  *   runMain graft.Explain <sfDir> [queryName...]
  * Look for: PushedFilters on parquet scans, ReadSchema pruned to the
  * referenced columns, BroadcastHashJoin on dimension joins,
  * WholeStageCodegen spans covering the hot expressions.
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
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
