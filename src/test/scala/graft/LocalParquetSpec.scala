package graft

import graft.ingest.{BronzeMerge, DeltaLog, LocalParquet}
import graft.pipeline.DeltaListing.DeltaItem
import graft.streaming.Streams.{DeadRow, LiveRow, QuarantinedItem}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Encoder, Encoders}
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The driver-side parquet path against Spark's own: a file
  * [[LocalParquet.write]] lays down carries the same parquet schema,
  * Spark row metadata and rows as a Spark write of the same Seq,
  * [[LocalParquet.read]] decodes a file as `spark.read...as[T]` does,
  * and [[LocalParquet.schema]] equals Spark's schema-merging
  * inference. */
class LocalParquetSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-lp-$tag").toString

  /** The single visible part under `dir` and its footer. */
  private def footer(dir: String) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val parts = p.getFileSystem(conf).listStatus(p).filter { st =>
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    assert(parts.length == 1, parts.map(_.getPath.getName).mkString(","))
    ParquetFileReader.readFooter(HadoopInputFile.fromStatus(parts.head, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS).getFileMetaData
  }

  private def roundTrip[T: Encoder](rows: Seq[T]): Unit = {
    val ours = tmp("ours")
    val theirs = tmp("spark")
    val file = LocalParquet.write(spark, ours, rows.iterator)
    assert(file.getName.matches("part-00000-[0-9a-f-]{36}-c000\\..+\\.parquet"),
      file.getName)
    spark.createDataset(rows).coalesce(1).write.mode("overwrite")
      .parquet(theirs)
    val (a, b) = (footer(ours), footer(theirs))
    assert(a.getSchema == b.getSchema)
    assert(a.getKeyValueMetaData == b.getKeyValueMetaData)
    val (ra, rb) = (spark.read.parquet(ours), spark.read.parquet(theirs))
    assert(ra.schema == rb.schema)
    assert(ra.schema.forall(_.nullable))
    assert(ra.collect().map(_.toString).sorted.toSeq ==
      rb.collect().map(_.toString).sorted.toSeq)
    assert(ra.count() == rows.size)
  }

  private val ts = Timestamp.valueOf("2024-03-01 12:34:56.789")

  test("write: DeltaItem pages (null size and stamp, non-null deleted) " +
      "match a Spark write") {
    roundTrip(Seq(
      DeltaItem("i1", "/drives/d/root:/in", "a.txt", "text/plain",
        java.lang.Long.valueOf(3L), ts, deleted = false),
      DeltaItem("i2", null, "b.txt", null, null, null, deleted = true)))(
      Encoders.product[DeltaItem])
  }

  test("write: quarantined items and both window slices match a Spark " +
      "write") {
    roundTrip(Seq(
      QuarantinedItem("q1", "a.txt", ts, java.lang.Long.valueOf(5L),
        "HttpError: 500"),
      QuarantinedItem("q2", "b.txt", null, null, null)))(
      Encoders.product[QuarantinedItem])
    roundTrip(Seq(LiveRow("l1", "a.txt", ts, Some(7L)),
      LiveRow("l2", "b.txt", null, None)))(Encoders.product[LiveRow])
    roundTrip(Seq(DeadRow("d1"), DeadRow(null)))(Encoders.product[DeadRow])
  }

  test("write: Delta checkpoint rows (nested options, maps, arrays) match " +
      "a Spark write") {
    import DeltaLog.{CpAdd, CpFormat, CpMetaData, CpProtocol, CpRow}
    roundTrip(Seq(
      CpRow(Some(CpProtocol(1, 2)), None, None),
      CpRow(None, Some(CpMetaData("id", CpFormat("parquet", Map.empty),
        "{}", Seq.empty, Map("k" -> "v"), 7L)), None),
      CpRow(None, None, Some(CpAdd("batch-00000001/p.parquet",
        Map.empty, 3L, 9L, dataChange = false)))))(Encoders.product[CpRow])
  }

  test("write: a fixed name is replaced whole, no temp file is left") {
    val dir = tmp("fixed")
    implicit val enc: Encoder[DeadRow] = Encoders.product[DeadRow]
    LocalParquet.write(spark, dir, Iterator(DeadRow("a"), DeadRow("b")),
      "set.parquet")
    LocalParquet.write(spark, dir, Iterator(DeadRow("c")), "set.parquet")
    assert(spark.read.parquet(dir).collect().map(_.getString(0)).toSeq ==
      Seq("c"))
    assert(Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted ==
      Seq(".set.parquet.crc", "set.parquet"))
  }

  test("write: no rows still lay down one file carrying the schema, as " +
      "a Spark write of an empty Dataset does") {
    implicit val enc: Encoder[QuarantinedItem] =
      Encoders.product[QuarantinedItem]
    val ours = tmp("empty")
    val theirs = tmp("empty-spark")
    val file = LocalParquet.write(spark, ours, Iterator.empty)
    spark.createDataset(Seq.empty[QuarantinedItem]).write.mode("overwrite")
      .parquet(theirs)
    assert(footer(ours).getSchema == footer(theirs).getSchema)
    assert(spark.read.parquet(ours).schema == spark.read.parquet(theirs).schema)
    assert(spark.read.parquet(ours).count() == 0)
    assert(LocalParquet.read(spark, file.toString).isEmpty)
  }

  /** Parked items covering what the quarantine holds: null size, stamp
    * and name, empty strings, and distinct stamps down to the
    * microsecond on both sides of the epoch. */
  private val parked = Seq(
    QuarantinedItem("q1", "a.txt",
      Timestamp.valueOf("2024-03-01 12:34:56.789123"),
      java.lang.Long.valueOf(5L), "HttpError: 500"),
    QuarantinedItem("q2", "b.txt", new Timestamp(0L), null, ""),
    QuarantinedItem("q3", "", Timestamp.valueOf("1969-12-31 23:59:59.999999"),
      java.lang.Long.valueOf(0L), null),
    QuarantinedItem("q4", null, null, java.lang.Long.valueOf(-1L), "x"),
    QuarantinedItem("q5", "e.txt", Timestamp.valueOf("1900-01-01 00:00:00.5"),
      java.lang.Long.valueOf(Long.MaxValue), "IOException: reset"))

  /** Every visible part file directly under `dir`, in path order. */
  private def parts(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).filter { f =>
        val n = new Path(f).getName
        !n.startsWith(".") && !n.startsWith("_")
      }.toSeq.sorted

  for (tsType <- Seq("INT96", "TIMESTAMP_MICROS"))
    test(s"read: quarantined items decode as spark.read decodes them, " +
        s"from a driver write and a 2-part Spark write ($tsType)") {
      implicit val enc: Encoder[QuarantinedItem] =
        Encoders.product[QuarantinedItem]
      def viaSpark(f: String) =
        spark.read.schema(enc.schema).parquet(f).as[QuarantinedItem]
          .collect().toSeq
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.get(key)
      spark.conf.set(key, tsType)
      try {
        val ours = LocalParquet.write(spark, tmp("read"), parked.iterator)
          .toString
        assert(LocalParquet.read[QuarantinedItem](spark, ours) ==
          viaSpark(ours))
        assert(LocalParquet.read[QuarantinedItem](spark, ours) == parked)
        val theirs = tmp("read-spark")
        spark.createDataset(parked).repartition(2,
          org.apache.spark.sql.functions.col("source_item_id"))
          .write.mode("overwrite").parquet(theirs)
        val files = parts(theirs)
        assert(files.size == 2, files.mkString(","))
        files.foreach(f =>
          assert(LocalParquet.read[QuarantinedItem](spark, f) == viaSpark(f)))
        assert(files.flatMap(LocalParquet.read[QuarantinedItem](spark, _))
          .sortBy(_.source_item_id) == parked)
      } finally spark.conf.set(key, prev)
    }

  test("schema: equals Spark's inference on one batch and on an additive " +
      "id-less + id-carrying mix, in either order") {
    import spark.implicits._
    val root = tmp("schema")
    val legacy = s"$root/batch-1"
    val withIds = s"$root/batch-2"
    Seq(("a.txt", 3L, ts, Array[Byte](1, 2, 3)))
      .toDF("file_name", "length", "modified", "content")
      .write.parquet(legacy)
    Seq(("i9", "b.txt", 2L, ts, Array[Byte](4, 5)))
      .toDF(BronzeMerge.IdCol, "file_name", "length", "modified", "content")
      .repartition(2).write.parquet(withIds)
    def inferred(dirs: String*) =
      spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema
    for (dirs <- Seq(Seq(legacy), Seq(withIds), Seq(legacy, withIds),
        Seq(withIds, legacy)))
      assert(LocalParquet.schema(spark, dirs) == inferred(dirs: _*),
        dirs.mkString(","))
  }

  test("schema: a file without Spark's row metadata converts its parquet " +
      "schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("plain")
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int64 n; optional binary s (UTF8); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/plain.parquet"))
      .withType(msg).build()
    try w.write(new SimpleGroupFactory(msg).newGroup().append("n", 1L)
      .append("s", "x"))
    finally w.close()
    assert(LocalParquet.schema(spark, Seq(dir)) ==
      spark.read.parquet(dir).schema)
  }

  test("the delta log's metaData schemaString is the one Spark's " +
      "inference gives, byte for byte") {
    import spark.implicits._
    val table = s"${tmp("log")}/bronze"
    BronzeMerge.mergeIngestDf(spark, Seq(("a.txt", 3L, ts, Array[Byte](1, 2)))
      .toDF("file_name", "length", "modified", "content"), table)
    BronzeMerge.mergeIngestDf(spark, Seq(("i9", "b.txt", 2L, ts, Array[Byte](4)))
      .toDF(BronzeMerge.IdCol, "file_name", "length", "modified", "content"),
      table)
    val batches = BronzeMerge.currentCommit(spark, table)._2
    assert(batches.size == 2)
    def logged(v: Long): Option[String] = {
      val f = new java.io.File(f"$table/_delta_log/$v%020d.json")
      scala.io.Source.fromFile(f, "UTF-8").getLines()
        .map(new com.fasterxml.jackson.databind.ObjectMapper().readTree(_))
        .find(_.has("metaData"))
        .map(_.get("metaData").get("schemaString").asText())
    }
    def inferred(bs: Seq[String]) = spark.read.option("mergeSchema", "true")
      .parquet(bs.map(b => s"$table/$b"): _*).schema.json
    assert(logged(0L).contains(inferred(batches.take(1))))
    assert(logged(1L).contains(inferred(batches)))
    assert(DeltaLog.read(spark, table).count() == 2)
  }
}
