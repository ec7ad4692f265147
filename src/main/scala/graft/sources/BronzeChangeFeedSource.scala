package graft.sources

import graft.ingest.BronzeMerge
import org.apache.spark.sql.{DataFrame, GraftStreamingBridge, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Bronze version as a streaming offset. Delta-CDF semantics:
  * offset N means "everything committed through bronze version N
  * has been delivered". */
final case class BronzeVersionOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

/** The bronze change feed as a FIRST-CLASS Structured Streaming
  * source: `spark.readStream.format("bronze-cdf").option("table", t)`
  * turns [[BronzeMerge.readChanges]]'s manual version-range polling
  * into checkpointed micro-batches — each micro-batch is exactly the
  * rows appended in a bronze version window, the last consumed
  * version rides in the query's OFFSET LOG, and a restarted query
  * resumes from it (the same exactly-once composition as
  * `maintainCodedCorpus`: effectively-once batches from the
  * checkpoint, idempotent sinks absorb the one replayable batch).
  * `Trigger.AvailableNow` drains to the current head and stops;
  * the default trigger tails the table continuously.
  *
  * Offsets are BRONZE VERSIONS (not timestamps; bronze version N is
  * `_delta_log/` version N−1): monotone, dense, and crash-unambiguous
  * — a version is either committed (its version file was claimed) or
  * absent. `getBatch(from, to)` delegates to
  * [[BronzeMerge.readChanges]], so the stream inherits its contract:
  * appended batches stream; a window that REWRITES batches
  * (compaction / copy-on-write delete) fails loudly rather than
  * silently re-delivering rewritten rows — Delta's own change-feed
  * behavior for non-append changes without CDC files.
  *
  * Scale notes (100 TB): an offset range resolves, by two driver-side
  * log replays, to the batch DIRECTORIES added between its ends — no
  * table scan, no Spark job, no state; the per-batch read is the ordinary
  * pruned parquet scan of exactly the appended files. Schema is
  * pinned at stream start (streaming requires a fixed schema) and
  * passed down to the parquet scan; columns added by later bronze
  * batches surface on restart, and rows from pre-evolution batches
  * read the pinned columns as null (parquet's by-name matching
  * under an explicit scan schema).
  */
class BronzeChangeFeedSource(spark: SparkSession, table: String,
    pinned: StructType) extends Source {

  override def schema: StructType = pinned

  override def getOffset: Option[Offset] = {
    val (v, _) = BronzeMerge.currentCommit(spark, table)
    if (v == 0) None else Some(BronzeVersionOffset(v))
  }

  private def versionOf(o: Offset): Long = o match {
    case BronzeVersionOffset(v) => v
    // after a restart the offset log replays as SerializedOffset
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(0L).toInt
    val to = versionOf(end).toInt
    val changes =
      if (from >= to) // restart replay of an already-empty window
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pinned)
      // the pinned schema rides the scan itself: parquet matches
      // columns by name, so pre-evolution files read the pinned
      // columns as typed nulls and later-evolved extras are dropped
      // until restart — and a window spanning the evolution still
      // surfaces the newer batches' real values (schema inference
      // from one footer would silently null them)
      else BronzeMerge.readChanges(spark, table, from, to, Some(pinned))
    GraftStreamingBridge.asStreamingBatch(changes, Some(this))
  }

  override def stop(): Unit = ()

  override def toString: String = s"BronzeChangeFeed[$table]"
}

/** `format("bronze-cdf")` registration. Options: `table` (or `path`)
  * = the bronze table directory. */
class BronzeChangeFeedProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "bronze-cdf"

  private def tableOf(parameters: Map[String, String]): String =
    parameters.get("table").orElse(parameters.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "bronze-cdf requires .option(\"table\", <bronze table dir>)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      BronzeMerge.snapshot(sqlContext.sparkSession,
        tableOf(parameters), mergeSchema = true).schema))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val table = tableOf(parameters)
    new BronzeChangeFeedSource(sqlContext.sparkSession, table,
      schema.getOrElse(
        BronzeMerge.snapshot(sqlContext.sparkSession, table,
          mergeSchema = true).schema))
  }
}
