package graft

import java.nio.file.{Files, Paths}

import graft.ingest.{BronzeMerge, DeltaConformance, DeltaLog}

/** The external half of the `_delta_log/` interop claim
  * (reference sink: a Fabric Delta table,
  * `/root/reference/config.py:16`): the reader must replay a log it
  * did NOT write. The golden fixture under
  * `src/test/resources/delta-golden/` is authored straight from the
  * public Delta protocol document (see tools/make_golden_delta.py)
  * with shapes graft's writer never produces — commitInfo-first
  * ordering, txn actions, size-less removes, percent-encoded paths,
  * a checkpoint with extra action columns, shuffled struct field
  * order, and a remove tombstone row. The conformance validator
  * ([[graft.ingest.DeltaConformance]]) is the writer half: graft's
  * own logs must satisfy every protocol invariant an external reader
  * depends on. */
class DeltaGoldenSpec extends SparkSpec {

  private def goldenTable: String = {
    val fromClasspath = Option(getClass.getResource("/delta-golden/people"))
      .map(u => Paths.get(u.toURI))
    val p = fromClasspath.filter(Files.exists(_))
      .getOrElse(Paths.get("src/test/resources/delta-golden/people"))
    assert(Files.exists(p.resolve("_delta_log")), s"golden fixture missing at $p")
    p.toString
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("golden log: HEAD replay resolves adds, removes, txn markers, encoding") {
    val t = goldenTable
    // HEAD = checkpoint(1) + v2 tail; the live set must decode
    // sub%20dir/part%20b.parquet to a real file with a space
    val DeltaLog.State(_, files, schema) = DeltaLog.state(spark, t)
    assert(schema.isDefined)
    assert(files.map(_.path).sorted == Seq(
      "part-c.parquet", "part-d.parquet", "sub%20dir/part%20b.parquet"))
    assert(ids(DeltaLog.read(spark, t)) == Seq(3L, 4L, 5L))
    assert(schema.get.fieldNames.toSeq == Seq("id", "name"))
  }

  test("golden log: time travel below and at the external checkpoint") {
    val t = goldenTable
    // v0: pure-JSON replay (no checkpoint at or below), extra fields
    // (stats, operationParameters) and commitInfo-first order ignored
    assert(ids(DeltaLog.read(spark, t, Some(0L))) == Seq(1L, 2L, 3L))
    // v1 resolves THROUGH the external checkpoint: its remove
    // tombstone row must not count as live, its shuffled add-struct
    // field order must read by name, and the size-less JSON remove
    // must have dropped part-a
    assert(ids(DeltaLog.read(spark, t, Some(1L))) == Seq(3L, 4L))
    assert(DeltaLog.state(spark, t, Some(1L)).files.map(_.path).sorted ==
      Seq("part-c.parquet", "sub%20dir/part%20b.parquet"))
  }

  test("golden log passes the protocol conformance validator") {
    assert(DeltaConformance.validate(spark, goldenTable) == Seq.empty)
  }

  test("graft's own synced log passes the protocol conformance validator") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft-conform")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def one(n: String) = Seq((n, n.length.toLong, ts(n.hashCode & 127),
      Array[Byte](1))).toDF("file_name", "length", "modified", "content")
    // cross the checkpoint cadence twice and exercise every action
    // kind the writer emits: adds, copy-on-write removes, compaction
    // rewrites, schema evolution metaData, then log cleanup. The
    // checkpoint at log version 19 is built on the one at 9, after
    // every one of those actions.
    (1 to 11).foreach(i =>
      BronzeMerge.mergeIngestDf(spark, one(f"g$i%02d.txt"), table))
    BronzeMerge.deleteWhere(spark, table, col("length") === 7L)
    BronzeMerge.compact(spark, table)
    BronzeMerge.mergeIngestDf(spark,
      Seq(("wide.txt", 8L, ts(99), Array[Byte](1), "extra-col"))
        .toDF("file_name", "length", "modified", "content", "note"), table)
    (12 to 18).foreach(i =>
      BronzeMerge.mergeIngestDf(spark, one(f"g$i%02d.txt"), table))
    assert(DeltaLog.latestLogVersion(spark, table) == 20L)
    assert(Files.exists(Paths.get(table, "_delta_log",
      "00000000000000000019.checkpoint.parquet")))
    assert(DeltaConformance.validate(spark, table) == Seq.empty)
    // still conformant after retention cleanup truncates the history
    DeltaLog.cleanObsoleteLogs(spark, table)
    assert(DeltaConformance.validate(spark, table) == Seq.empty)
    // and the external-style read still equals the bronze snapshot
    assert(DeltaLog.read(spark, table).count() ==
      BronzeMerge.snapshot(spark, table).count())
  }
}
