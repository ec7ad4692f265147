package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession setup behind every main and the test
  * suites. Callers add only their own extras before `getOrCreate()`. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else 4. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** `local[cpus]` with one shuffle partition per cpu, UTC, no UI. */
  def local(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts NANOS
      // let AQE coalesce post-shuffle partitions even under a persist():
      // iterative queries (t12) cache each generation, and without this
      // every tiny label-table shuffle stays at the static partition
      // count — pure task-scheduling overhead on a small relation
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
