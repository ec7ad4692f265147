package graft.sources

import java.util
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ingest.BronzeMerge

/** DataSource V2 WRITE path for the bronze merge store — the public
  * Spark API face of [[graft.ingest.BronzeMerge.mergeIngestDf]], so a
  * third-party Spark job appends to the bronze table without touching
  * any graft class:
  *
  * {{{
  *   df.write.format("graft-bronze").mode("append").save(tablePath)
  * }}}
  *
  * This is the writer counterpart of the reference's blind
  * `.saveAsTable(append)` into its Fabric Delta bronze
  * (`sharepoint_to_bronze_delta.py:138-141`, `config.py:16`) with the
  * semantics the reference's at-least-once re-runs actually need
  * (SURVEY C4): every append routes through the idempotent MERGE on
  * (file_name, length, modified) and one CAS claim of the next
  * `_delta_log/` version — a re-run of the same batch appends
  * nothing, a concurrent writer loses loudly, and an external Delta
  * reader sees the commit.
  *
  * Design notes:
  *  - The merge is a whole-DataFrame operation (anti-join against the
  *    committed key set, one batch directory, ONE log commit), so
  *    the write is exposed through the DSv2 `V1Write` fallback — the
  *    `InsertableRelation` bridge Spark keeps for exactly this class
  *    of connector (transactional sinks whose commit is table-level,
  *    not per-task; OSS Delta shipped on the same bridge for years).
  *    A per-task `DataWriter` surface would force a second commit
  *    protocol UNDER the log CAS and buy nothing: parquet task
  *    writes + the version-file claim already give atomic visibility.
  *  - `ACCEPT_ANY_SCHEMA`: the bronze store takes additive schema
  *    evolution (mergeSchema reads; the commit fails loudly on
  *    conflicting types before publishing), so the table does its own
  *    validation —
  *    the identity key columns must be present (checked here, loudly),
  *    anything else is carried as data. Without this capability,
  *    Spark's by-name resolution would pin writers to the snapshot
  *    schema and block the widening that `mergeIngestDf` supports.
  *  - Only `SaveMode.Append` maps to a capability. Overwrite is
  *    deliberately absent: bronze is an append-only fact store
  *    (compaction and retention are maintenance operations —
  *    [[BronzeMerge.compact]] / [[BronzeMerge.deleteWhere]] — not
  *    write modes), so `mode("overwrite")` fails Spark's capability
  *    check instead of silently truncating history.
  *
  * Read path: batch reads stay on [[BronzeMerge.snapshot]] /
  * [[BronzeMerge.snapshotLatest]] (plain parquet scans of the batch
  * dirs the log replay names — already pushdown/pruning-friendly; a
  * DSv2 read
  * surface would reimplement the parquet source to add nothing), and
  * streaming reads on `format("bronze-cdf")`
  * ([[BronzeChangeFeedProvider]]).
  */
class BronzeTableSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-bronze"

  /** Committed snapshot schema when the table exists (so by-name
    * writers see the real, possibly-widened schema), the canonical
    * bronze ingest schema for a table yet to be created. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val path = BronzeTableSource.pathOf(options)
    if (BronzeMerge.currentCommit(spark, path)._2.isEmpty)
      BronzeTableSource.CanonicalSchema
    else BronzeMerge.snapshot(spark, path, mergeSchema = true).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BronzeTable(
      BronzeTableSource.pathOf(new CaseInsensitiveStringMap(properties)),
      schema)
}

object BronzeTableSource {
  /** Identity key of a bronze row — must be present in every batch a
    * writer appends (mirrors `BronzeMerge.KeyCols`). */
  val KeyCols: Seq[String] = Seq("file_name", "length", "modified")

  val CanonicalSchema: StructType = StructType(Seq(
    StructField("file_name", StringType),
    StructField("length", LongType),
    StructField("modified", TimestampType),
    StructField("content", BinaryType)))

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-bronze: table path required — .save(<path>) or .option(\"path\", ...)")
    p
  }
}

private class BronzeTable(path: String, schema0: StructType)
    extends Table with SupportsWrite {
  override def name(): String = s"graft_bronze($path)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // fail at PLAN time, not mid-job: the merge anti-joins on the
    // identity key, so a batch without it can never be appended
    val missing = BronzeTableSource.KeyCols
      .filterNot(k => info.schema().fieldNames.exists(_.equalsIgnoreCase(k)))
    require(missing.isEmpty,
      s"graft-bronze: input is missing identity key column(s) " +
        s"${missing.mkString(", ")} — bronze rows are keyed by " +
        s"(${BronzeTableSource.KeyCols.mkString(", ")})")
    new WriteBuilder {
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // capability set admits no truncating mode, so Spark
              // never plans overwrite=true here; keep the guard as
              // defense in depth
              require(!overwrite,
                "graft-bronze is append-only: overwrite is not supported")
              BronzeMerge.mergeIngestDf(data.sparkSession, data, path)
            }
          }
      }
    }
  }
}
