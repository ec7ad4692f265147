package graft

import graft.ingest.Ingest
import java.nio.file.{Files, Paths}

class IngestSpec extends SparkSpec {

  test("binaryFile discovery lists files with length + content") {
    val dir = Files.createTempDirectory("graft-disc")
    Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("b.bin"), Array[Byte](9))
    Files.writeString(dir.resolve("c.txt"), "hello")

    val df = Ingest.discoverBinary(spark, dir.toString)
    assert(df.count() == 3)
    val lens = df.select("path", "length").collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(lens == Map("a.bin" -> 3L, "b.bin" -> 1L, "c.txt" -> 5L))

    val globbed = Ingest.discoverBinary(spark, dir.toString, Some("*.bin"))
    assert(globbed.count() == 2)
  }

  test("blob ingest round-trips content through bronze parquet") {
    val dir = Files.createTempDirectory("graft-blob")
    val bronze = Files.createTempDirectory("graft-blob-out").resolve("b")
    Files.writeString(dir.resolve("x.txt"), "payload-x")
    Files.writeString(dir.resolve("y.txt"), "payload-yy")

    val manifest = Ingest.ingestBlobs(spark, dir.toString, bronze.toString)
    val rows = manifest.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSet ==
      Set(("x.txt", 9L, "ingested"), ("y.txt", 10L, "ingested")))

    val back = spark.read.parquet(bronze.toString)
      .select("file_name", "content").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1)))
      .toMap
    assert(back == Map("x.txt" -> "payload-x", "y.txt" -> "payload-yy"))
  }

  test("merge ingest is idempotent: re-running appends nothing") {
    import graft.ingest.BronzeMerge
    val dir = Files.createTempDirectory("graft-merge")
    val table = Files.createTempDirectory("graft-merge-out")
      .resolve("bronze").toString
    Files.writeString(dir.resolve("a.txt"), "alpha")
    Files.writeString(dir.resolve("b.txt"), "bravo-2")

    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 2)
    assert(BronzeMerge.snapshot(spark, table).count() == 2)
    // exact re-run: zero appended, zero duplicates (SURVEY C4 the
    // reference can't do — its blind append duplicates every row)
    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 0)
    assert(BronzeMerge.snapshot(spark, table).count() == 2)

    // incremental: only the genuinely-new file lands
    Files.writeString(dir.resolve("c.txt"), "charlie")
    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 1)
    val snap = BronzeMerge.snapshot(spark, table)
    assert(snap.count() == 3)
    assert(snap.select("file_name").collect().map(_.getString(0)).sorted
      .toSeq == Seq("a.txt", "b.txt", "c.txt"))
    // content round-trips
    val back = snap.collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]]("content")))
      .toMap
    assert(back("c.txt") == "charlie")
  }

  test("merge ingest: modified file re-lands; latest-wins view dedups") {
    import graft.ingest.BronzeMerge
    val dir = Files.createTempDirectory("graft-merge2")
    val table = Files.createTempDirectory("graft-merge2-out")
      .resolve("bronze").toString
    val aPath = dir.resolve("a.txt")
    Files.writeString(aPath, "v1")
    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 1)
    // a changed file has a NEW identity (length/modified) → re-ingested
    Files.writeString(aPath, "v2-longer")
    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 1)
    assert(BronzeMerge.snapshot(spark, table).count() == 2) // full history
    val latest = BronzeMerge.snapshotLatest(spark, table).collect()
    assert(latest.length == 1)
    assert(new String(latest.head.getAs[Array[Byte]]("content")) ==
      "v2-longer")
  }

  test("schema evolution: a batch with a new column merges additively") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val table = Files.createTempDirectory("graft-evolve")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val v1 = Seq(("a.txt", 5L, ts(1), Array[Byte](1)))
      .toDF("file_name", "length", "modified", "content")
    val v2 = Seq(("b.txt", 7L, ts(2), Array[Byte](2), "graph"))
      .toDF("file_name", "length", "modified", "content", "source_system")
    assert(BronzeMerge.mergeIngestDf(spark, v1, table) == 1)
    assert(BronzeMerge.mergeIngestDf(spark, v2, table) == 1)
    // evolved read: wide schema, pre-evolution rows null in new col
    val snap = BronzeMerge.snapshot(spark, table, mergeSchema = true)
    assert(snap.columns.contains("source_system"))
    val bySrc = snap.select("file_name", "source_system").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bySrc == Map("a.txt" -> null, "b.txt" -> "graph"))
    // the identity-key merge is schema-stable: re-running either batch
    // still appends nothing
    assert(BronzeMerge.mergeIngestDf(spark, v2, table) == 0)
  }

  test("CHECK constraints: a violating batch rejects atomically; NULL passes") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length => slen}
    val table = Files.createTempDirectory("graft-check")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val cons = Seq(
      "len_positive" -> (col("length") > 0L),
      "name_nonempty" -> (slen(col("file_name")) > 0))
    val good = Seq(("a.txt", 5L, ts(1), Array[Byte](1)))
      .toDF("file_name", "length", "modified", "content")
    assert(BronzeMerge.mergeIngestChecked(spark, good, table, cons) == 1)
    // one bad row poisons the WHOLE batch — nothing lands, no new
    // version, not even the clean rows
    val mixed = Seq(
      ("b.txt", 7L, ts(2), Array[Byte](2)),
      ("c.txt", -1L, ts(3), Array[Byte](3)))
      .toDF("file_name", "length", "modified", "content")
    val ex = intercept[IllegalArgumentException] {
      BronzeMerge.mergeIngestChecked(spark, mixed, table, cons)
    }
    assert(ex.getMessage.contains("len_positive (1 rows)"))
    assert(BronzeMerge.currentCommit(spark, table)._1 == 1)
    assert(BronzeMerge.snapshot(spark, table).count() == 1)
    // SQL CHECK semantics: a NULL predicate result is NOT a violation
    val withNull = Seq(("d.txt", null.asInstanceOf[java.lang.Long],
        ts(4), Array[Byte](4)))
      .toDF("file_name", "length", "modified", "content")
    assert(BronzeMerge.mergeIngestChecked(spark, withNull, table,
      cons) == 1)
    // and col.isNotNull is how NOT NULL is spelled when wanted
    intercept[IllegalArgumentException] {
      BronzeMerge.mergeIngestChecked(spark, withNull, table,
        Seq("len_not_null" -> col("length").isNotNull))
    }
  }

  test("compaction folds batches into one; time travel + vacuum") {
    import graft.ingest.BronzeMerge
    val dir = Files.createTempDirectory("graft-compact")
    val table = Files.createTempDirectory("graft-compact-out")
      .resolve("bronze").toString
    Files.writeString(dir.resolve("a.txt"), "alpha")
    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 1)
    Files.writeString(dir.resolve("b.txt"), "bravo")
    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 1)

    def names(df: org.apache.spark.sql.DataFrame) =
      df.select("file_name").collect().map(_.getString(0)).sorted.toSeq

    // two one-file batches → one compacted batch, same rows
    val v3 = BronzeMerge.compact(spark, table)
    assert(v3 == 3)
    val (_, live) = BronzeMerge.currentCommit(spark, table)
    assert(live == Seq("batch-00000003"))
    assert(names(BronzeMerge.snapshot(spark, table)) ==
      Seq("a.txt", "b.txt"))
    // merge stays idempotent against the compacted key set
    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 0)

    // time travel: version 1 still shows only the first batch
    assert(names(BronzeMerge.snapshotAt(spark, table, 1)) == Seq("a.txt"))

    // vacuum reclaims the superseded batches
    val dead = BronzeMerge.vacuum(spark, table)
    assert(dead == Seq("batch-00000001", "batch-00000002"))
    assert(names(BronzeMerge.snapshot(spark, table)) ==
      Seq("a.txt", "b.txt"))
    intercept[IllegalArgumentException] {
      BronzeMerge.snapshotAt(spark, table, 1) // time travel forfeited
    }
  }

  test("row-level delete is copy-on-write: untouched batches keep their bytes") {
    import graft.ingest.BronzeMerge
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = Files.createTempDirectory("graft-del")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def batch(names: String*) = names.zipWithIndex.map { case (n, i) =>
      (n, (i + 1).toLong, ts(i), Array[Byte](i.toByte)) }
      .toDF("file_name", "length", "modified", "content")
    BronzeMerge.mergeIngestDf(spark, batch("a.txt", "b.txt"), table)   // v1
    BronzeMerge.mergeIngestDf(spark, batch("c.txt", "drop.txt"), table) // v2

    val (v3, n) = BronzeMerge.deleteWhere(spark, table,
      col("file_name") === "drop.txt")
    assert(v3 == 3 && n == 1)
    // survivor set is exact; the all-clean batch kept its name
    assert(BronzeMerge.snapshot(spark, table).select("file_name")
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a.txt", "b.txt", "c.txt"))
    val (_, live) = BronzeMerge.currentCommit(spark, table)
    assert(live.contains("batch-00000001"), s"clean batch rewritten: $live")
    assert(live.exists(_.contains("cow")), s"no cow batch in $live")
    // pre-delete version still time-travels (until vacuum)
    assert(BronzeMerge.snapshotAt(spark, table, 2).count() == 4)
    // deleted identity key still blocks re-ingest (no resurrection)
    assert(BronzeMerge.mergeIngestDf(spark,
      batch("c.txt", "drop.txt"), table) == 0)
    // no matches → no new version
    val (vSame, zero) = BronzeMerge.deleteWhere(spark, table,
      col("file_name") === "ghost.txt")
    assert(vSame == 3 && zero == 0)
  }

  test("pinned key schema: a legacy id-less keys batch still blocks " +
      "id-less redelivery and admits a byte-identical re-create under a " +
      "fresh id") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val table = Files.createTempDirectory("graft-keys")
      .resolve("bronze").toString
    val ts0 = new java.sql.Timestamp(1700000000000L)
    def legacy(name: String, len: Long) =
      Seq((name, len, ts0, Array.fill(len.toInt)(1.toByte)))
        .toDF("file_name", "length", "modified", "content")
    def withId(id: String, name: String, len: Long) =
      Seq((id, name, len, ts0, Array.fill(len.toInt)(1.toByte)))
        .toDF(BronzeMerge.IdCol, "file_name", "length", "modified",
          "content")
    assert(BronzeMerge.mergeIngestDf(spark, legacy("b.txt", 5L), table) == 1)
    // the legacy key batch really lacks the id column on disk
    assert(!spark.read.parquet(s"$table/_keys/batch-00000001").columns
      .contains(BronzeMerge.IdCol))
    // id-less redelivery of the legacy file is blocked, and so is an
    // id-carrying one: a null committed id predates the id contract
    assert(BronzeMerge.mergeIngestDf(spark, legacy("b.txt", 5L), table) == 0)
    assert(BronzeMerge.mergeIngestDf(spark,
      withId("i2", "b.txt", 5L), table) == 0)

    // an id-carrying batch next to the legacy one: both key shapes
    // read through the one pinned schema
    assert(BronzeMerge.mergeIngestDf(spark,
      withId("i1", "a.txt", 3L), table) == 1)
    assert(BronzeMerge.mergeIngestDf(spark, legacy("b.txt", 5L), table) == 0)
    assert(BronzeMerge.mergeIngestDf(spark, legacy("a.txt", 3L), table) == 0)
    assert(BronzeMerge.mergeIngestDf(spark,
      withId("i1", "a.txt", 3L), table) == 0)
    // the same bytes under a FRESH id are a new identity and land
    assert(BronzeMerge.mergeIngestDf(spark,
      withId("i9", "a.txt", 3L), table) == 1)
    assert(BronzeMerge.snapshot(spark, table, mergeSchema = true)
      .select(BronzeMerge.IdCol).collect().map(_.getString(0)).toSeq
      .sortBy(Option(_)) == Seq(null, "i1", "i9"))
  }

  test("deleteMatchingKeys over three batches rewrites only the one " +
      "holding matches, never an id-less batch, and counts exactly") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val table = Files.createTempDirectory("graft-cow")
      .resolve("bronze").toString
    val ts0 = new java.sql.Timestamp(1700000000000L)
    def rows(ids: (String, String)*) = ids.map { case (id, n) =>
      (id, n, n.length.toLong, ts0, n.getBytes("UTF-8")) }
      .toDF(BronzeMerge.IdCol, "file_name", "length", "modified", "content")
    // batch 1 predates ids: it lacks the join column entirely
    BronzeMerge.mergeIngestDf(spark, rows("x" -> "legacy.txt")
      .drop(BronzeMerge.IdCol), table)
    BronzeMerge.mergeIngestDf(spark, rows("i1" -> "a.txt", "i2" -> "bb.txt"),
      table)
    BronzeMerge.mergeIngestDf(spark,
      rows("i3" -> "c.txt", "i4" -> "dd.txt", "i5" -> "eee.txt"), table)
    val (v0, before) = BronzeMerge.currentCommit(spark, table)
    def bytesOf(dir: String): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val root = Paths.get(dir)
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          Files.readAllBytes(p).toSeq).toMap
    }
    val snap = before.map(b => b -> bytesOf(s"$table/$b")).toMap
    val keys3 = bytesOf(s"$table/_keys/${before(2)}")

    // dead keys: two ids in batch 3, an id nobody holds, and a null —
    // which must not match the id-less batch's null reads
    val dead = Seq("i4", "i5", "ghost", null).toDF(BronzeMerge.IdCol)
    val (v1, n) = BronzeMerge.deleteMatchingKeys(spark, table, dead,
      Seq(BronzeMerge.IdCol))
    assert((v1, n) == (v0 + 1, 2L))
    val (_, after) = BronzeMerge.currentCommit(spark, table)
    assert(after.take(2) == before.take(2),
      s"untouched batches were renamed: $before -> $after")
    before.take(2).foreach(b => assert(bytesOf(s"$table/$b") == snap(b),
      s"untouched batch $b changed on disk"))
    assert(after(2) != before(2) && after(2).contains("cow"))
    // the rewritten batch's keys are the original's, byte for byte
    assert(bytesOf(s"$table/_keys/${after(2)}") == keys3)
    assert(BronzeMerge.snapshot(spark, table, mergeSchema = true)
      .select("file_name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a.txt", "bb.txt", "c.txt", "legacy.txt"))
    // the deleted identities still block redelivery
    assert(BronzeMerge.mergeIngestDf(spark, rows("i4" -> "dd.txt"),
      table) == 0)
    // nothing left to match: no new version, zero deleted
    assert(BronzeMerge.deleteMatchingKeys(spark, table, dead,
      Seq(BronzeMerge.IdCol)) == (v1, 0L))
    // the predicate form over the same mixed table: the id-less batch
    // reads a null id, so it neither fails the scan nor gets rewritten
    assert(BronzeMerge.deleteWhere(spark, table,
      org.apache.spark.sql.functions.col(BronzeMerge.IdCol) === "i1") ==
      ((v1 + 1, 1L)))
    assert(BronzeMerge.currentCommit(spark, table)._2.head == before.head)
  }

  test("mergeIngestDf of an empty source returns 0, leaves no batch " +
      "directory and commits no version") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val root = Files.createTempDirectory("graft-empty")
    val table = root.resolve("bronze").toString
    val ts0 = new java.sql.Timestamp(1700000000000L)
    val empty = Seq.empty[(String, Long, java.sql.Timestamp, Array[Byte])]
      .toDF("file_name", "length", "modified", "content")
    def batchDirs(): Seq[String] =
      if (!Files.exists(Paths.get(table))) Nil
      else {
        import scala.jdk.CollectionConverters._
        Files.list(Paths.get(table)).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("batch-")).toSeq
      }
    // empty table, empty source
    assert(BronzeMerge.mergeIngestDf(spark, empty, table) == 0L)
    assert(batchDirs().isEmpty)
    assert(BronzeMerge.currentCommit(spark, table) == ((0, Nil)))
    // committed table: an empty source and a fully-deduped one alike
    val one = Seq(("a.txt", 1L, ts0, Array[Byte](1)))
      .toDF("file_name", "length", "modified", "content")
    assert(BronzeMerge.mergeIngestDf(spark, one, table) == 1L)
    val committed = BronzeMerge.currentCommit(spark, table)
    assert(BronzeMerge.mergeIngestDf(spark, empty, table) == 0L)
    assert(BronzeMerge.mergeIngestDf(spark, one, table) == 0L)
    assert(BronzeMerge.currentCommit(spark, table) == committed)
    assert(batchDirs() == Seq("batch-00000001"))
  }

  test("change feed returns exactly the appended rows; rewrites fail loudly") {
    import graft.ingest.BronzeMerge
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = Files.createTempDirectory("graft-cdf")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def batch(lo: Int, n: Int) = (lo until lo + n)
      .map(i => (s"f_$i", i.toLong, ts(i), Array[Byte](i.toByte)))
      .toDF("file_name", "length", "modified", "content")
    BronzeMerge.mergeIngestDf(spark, batch(0, 3), table)  // v1
    BronzeMerge.mergeIngestDf(spark, batch(10, 2), table) // v2
    BronzeMerge.mergeIngestDf(spark, batch(20, 4), table) // v3

    val mid = BronzeMerge.readChanges(spark, table, 1, 2)
    assert(mid.select("file_name").collect().map(_.getString(0)).sorted
      .toSeq == Seq("f_10", "f_11"))
    assert(BronzeMerge.readChanges(spark, table, 1, 3).count() == 6)
    assert(BronzeMerge.readChanges(spark, table, 0, 1).count() == 3)

    // compaction rewrites history → the append-only feed refuses
    BronzeMerge.compact(spark, table) // v4
    val err = intercept[IllegalArgumentException] {
      BronzeMerge.readChanges(spark, table, 2, 4).count()
    }
    assert(err.getMessage.contains("append-only"))
    // but a post-compaction append window is valid again
    BronzeMerge.mergeIngestDf(spark, batch(30, 1), table) // v5
    assert(BronzeMerge.readChanges(spark, table, 4, 5)
      .select("file_name").head.getString(0) == "f_30")
  }

  test("clustered compaction: z-order rewrite makes stats prune on both columns") {
    import graft.ingest.{BronzeMerge, DataSkipping}
    import spark.implicits._
    val table = Files.createTempDirectory("graft-zcompact")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    // 1024 files on a 32×32 (length, modified-second) grid
    val rows = (0 until 1024).map { i =>
      (s"f_$i", (i % 32).toLong, ts(i / 32), Array[Byte](i.toByte)) }
      .toDF("file_name", "length", "modified", "content")
    BronzeMerge.mergeIngestDf(spark, rows, table)
    val v = BronzeMerge.compact(spark, table,
      clusterBy = Seq("length", "modified"), nFiles = 16)
    assert(v == 2)
    val (_, live) = BronzeMerge.currentCommit(spark, table)
    assert(live.size == 1)
    val dir = s"$table/${live.head}"
    assert(DataSkipping.writeStats(spark, dir, Seq("length")) == 16)
    // a 4-wide length band hits a minority of the 16 files
    val (kept, total) = DataSkipping.prunedPaths(spark, dir, "length", 8, 11)
    assert(total == 16 && kept.size < 8,
      s"z-compacted prune kept ${kept.size} of $total")
    assert(DataSkipping.readBetween(spark, dir, "length", 8, 11)
      .count() == 4 * 32)
  }

  test("concurrent writers: manifest CAS admits exactly one, loser is loud") {
    import graft.ingest.BronzeMerge
    import org.apache.spark.sql.functions._
    val dirA = Files.createTempDirectory("graft-cas-a")
    val dirB = Files.createTempDirectory("graft-cas-b")
    val table = Files.createTempDirectory("graft-cas-out")
      .resolve("bronze").toString
    Files.writeString(dirA.resolve("a.txt"), "from-A")
    Files.writeString(dirB.resolve("b.txt"), "from-B")
    def src(dir: java.nio.file.Path) =
      Ingest.discoverBinary(spark, dir.toString).select(
        substring_index(col("path"), "/", -1).as("file_name"),
        col("length"), col("modificationTime").as("modified"),
        col("content"))

    // Interleave: writer B reads the (empty) commit it will build on,
    // then writer A runs a FULL merge before B proceeds. B's stale
    // snapshot collides with A's committed batch — B must fail loudly
    // and change nothing (loser-fails-loudly, BronzeMerge commit CAS).
    var winnerAppended = -1L
    val loser = intercept[Exception] {
      BronzeMerge.mergeIngestDf(spark, src(dirB), table, onSnapshotRead =
        () => winnerAppended =
          BronzeMerge.mergeIngestDf(spark, src(dirA), table))
    }
    info(s"loser failed with: ${loser.getClass.getSimpleName}")
    assert(winnerAppended == 1L)
    // exactly one winner: the table is A's commit, log intact
    val (ver, live) = BronzeMerge.currentCommit(spark, table)
    assert(ver == 1 && live == Seq("batch-00000001"))
    assert(BronzeMerge.snapshot(spark, table).select("file_name")
      .collect().map(_.getString(0)).toSeq == Seq("a.txt"))
    // the state at version 1, read before B's retry overtakes it
    val stale = graft.ingest.DeltaLog.state(spark, table)
    // B retries against the NEW version and lands cleanly
    assert(BronzeMerge.mergeIngestDf(spark, src(dirB), table) == 1L)
    assert(BronzeMerge.snapshot(spark, table).count() == 2)

    // the CAS itself: a commit on the overtaken base targets the SAME
    // version as B's and must lose; the log still reads B's content
    val f = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    intercept[IllegalStateException] {
      BronzeMerge.commit(f, table, stale, Seq("batch-bogus"))
    }
    assert(BronzeMerge.currentCommit(spark, table)._2 ==
      Seq("batch-00000001", "batch-00000002"))
  }

  test("a commit temp left by a crashed writer does not block the next commit") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val table = Files.createTempDirectory("graft-crash-tmp")
      .resolve("bronze").toString
    def one(n: String) = Seq((n, n.length.toLong,
      new java.sql.Timestamp(1700000000000L), Array[Byte](1)))
      .toDF("file_name", "length", "modified", "content")
    assert(BronzeMerge.mergeIngestDf(spark, one("a.txt"), table) == 1L)
    // the temp a writer that died between create and rename left for
    // bronze version 2 (log version 1), complete with its crc sidecar
    val f = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = f.create(new org.apache.hadoop.fs.Path(s"$table/_delta_log/" +
      s".00000000000000000001.json-${java.util.UUID.randomUUID()}.tmp"), false)
    try out.write("{}\n".getBytes("UTF-8")) finally out.close()
    assert(BronzeMerge.mergeIngestDf(spark, one("b.txt"), table) == 1L)
    assert(BronzeMerge.currentCommit(spark, table) ==
      ((2, Seq("batch-00000001", "batch-00000002"))))
    assert(BronzeMerge.snapshot(spark, table).count() == 2)
    // the crashed temp is older than version 2, so vacuum reclaims it
    // and its crc
    import scala.jdk.CollectionConverters._
    BronzeMerge.vacuum(spark, table)
    assert(Files.list(Paths.get(table, "_delta_log")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted ==
      Seq("00000000000000000000.json", "00000000000000000001.json"))
  }

  test("bucketed bronze publication joins on file identity with zero exchanges") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bkt")
    val table = Files.createTempDirectory("graft-bkt-out")
      .resolve("bronze").toString
    (1 to 12).foreach(i =>
      Files.writeString(dir.resolve(f"f$i%02d.txt"), s"payload-$i"))
    assert(BronzeMerge.mergeIngest(spark, dir.toString, table) == 12)

    Seq("bronze_pub", "bronze_pub_keys").foreach(resetTable)
    BronzeMerge.publishBucketed(spark, table, "bronze_pub", nBuckets = 4)

    // content ⨝ keys on file_name: both sides bucketed+sorted by the
    // key → co-located SortMergeJoin, no Exchange — at 100 TB the
    // content bytes never travel for identity-keyed joins
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bronze_pub")
        .join(spark.table("bronze_pub_keys"), Seq("file_name"))
        .select($"file_name", $"content")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"expected a shuffle-free co-located bronze join, got:\n$plan")
      assert(j.count() == 12)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // aggregation keyed on file identity also reuses the bucketing
    val agg = spark.table("bronze_pub").groupBy("file_name")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("delta log mirrors commits: an external-style replay reads the table") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import spark.implicits._
    val table = Files.createTempDirectory("graft-dlog")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def batch(names: String*) = names.zipWithIndex.map { case (n, i) =>
      (n, (i + 1).toLong, ts(i), Array[Byte](i.toByte)) }
      .toDF("file_name", "length", "modified", "content")
    def names(df: org.apache.spark.sql.DataFrame) =
      df.select("file_name").collect().map(_.getString(0)).sorted.toSeq

    BronzeMerge.mergeIngestDf(spark, batch("a.txt", "b.txt"), table) // v1
    BronzeMerge.mergeIngestDf(spark, batch("c.txt"), table)          // v2

    // log written alongside every commit: versions 0 and 1, version 0
    // carrying the protocol + metaData actions per the Delta protocol
    val logDir = Paths.get(table, "_delta_log")
    assert(Files.exists(logDir.resolve("00000000000000000000.json")))
    assert(Files.exists(logDir.resolve("00000000000000000001.json")))
    val v0 = Files.readString(logDir.resolve("00000000000000000000.json"))
    assert(v0.contains(""""protocol""""))
    assert(v0.contains(""""minReaderVersion":1"""))
    assert(v0.contains(""""metaData""""))
    assert(v0.contains(""""schemaString""""))
    assert(v0.contains(""""add""""))

    // the external-style replay resolves live files + schema from the
    // log's actions and reads the same rows the bronze snapshot reads
    assert(names(DeltaLog.read(spark, table)) ==
      names(BronzeMerge.snapshot(spark, table)))
    // every logged path exists on disk (an external client would open
    // exactly these files)
    val DeltaLog.State(_, files, schema) = DeltaLog.state(spark, table)
    assert(schema.isDefined && files.nonEmpty)
    files.foreach(a => assert(Files.exists(Paths.get(table, a.path)),
      s"logged file missing: ${a.path}"))
    // sizes in the log are the true on-disk sizes
    files.foreach(a =>
      assert(Files.size(Paths.get(table, a.path)) == a.size))

    // VERSION AS OF: delta version 0 ≡ bronze version 1
    assert(names(DeltaLog.read(spark, table, Some(0L))) ==
      names(BronzeMerge.snapshotAt(spark, table, 1)))

    // copy-on-write delete → remove + add actions; replay tracks it
    BronzeMerge.deleteWhere(spark, table,
      org.apache.spark.sql.functions.col("file_name") === "b.txt") // v3
    assert(DeltaLog.latestLogVersion(spark, table) == 2L)
    val v2 = Files.readString(logDir.resolve("00000000000000000002.json"))
    assert(v2.contains(""""remove"""") && v2.contains(""""add""""))
    assert(names(DeltaLog.read(spark, table)) == Seq("a.txt", "c.txt"))

    // compaction folds everything into one batch; replay agrees and
    // the pre-compaction version still time-travels through the log
    BronzeMerge.compact(spark, table) // v4
    assert(names(DeltaLog.read(spark, table)) == Seq("a.txt", "c.txt"))
    assert(DeltaLog.state(spark, table).files
      .forall(_.path.startsWith("batch-00000004/")))
    assert(names(DeltaLog.read(spark, table, Some(1L))) ==
      Seq("a.txt", "b.txt", "c.txt"))
  }

  test("delta log: schema evolution emits a new metaData action") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import spark.implicits._
    val table = Files.createTempDirectory("graft-dlog-ev")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val v1 = Seq(("a.txt", 5L, ts(1), Array[Byte](1)))
      .toDF("file_name", "length", "modified", "content")
    val v2 = Seq(("b.txt", 7L, ts(2), Array[Byte](2), "graph"))
      .toDF("file_name", "length", "modified", "content", "source_system")
    BronzeMerge.mergeIngestDf(spark, v1, table)
    BronzeMerge.mergeIngestDf(spark, v2, table)
    // commit 1 evolved the schema → its log version re-declares metaData
    val l1 = Files.readString(
      Paths.get(table, "_delta_log", "00000000000000000001.json"))
    assert(l1.contains(""""metaData"""") &&
      l1.contains("source_system"))
    // the replayed read uses the WIDE schema: pre-evolution rows null
    val back = DeltaLog.read(spark, table)
      .select("file_name", "source_system").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("a.txt" -> null, "b.txt" -> "graph"))
  }

  test("delta log checkpoints: replay = checkpoint + tail, survives log cleanup") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft-dlog-cp")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def one(n: String) = Seq((n, n.length.toLong, ts(n.hashCode & 127),
      Array[Byte](1))).toDF("file_name", "length", "modified", "content")
    def names(df: org.apache.spark.sql.DataFrame) =
      df.select("file_name").collect().map(_.getString(0)).sorted.toSeq

    // 12 commits → delta versions 0..11; the cadence (interval 10)
    // must have checkpointed at version 9 and pointed _last_checkpoint
    (1 to 12).foreach(i =>
      BronzeMerge.mergeIngestDf(spark, one(f"f$i%02d.txt"), table))
    val logDir = Paths.get(table, "_delta_log")
    assert(Files.exists(
      logDir.resolve("00000000000000000009.checkpoint.parquet")))
    val ptr = Files.readString(logDir.resolve("_last_checkpoint"))
    assert(ptr.contains("\"version\":9"), ptr)
    // checkpoint content: one action per row, protocol + metaData +
    // one add per live file, adds carrying dataChange=false
    val cp = spark.read.parquet(
      logDir.resolve("00000000000000000009.checkpoint.parquet").toString)
    assert(cp.filter(col("protocol").isNotNull).count() == 1)
    assert(cp.filter(col("metaData").isNotNull).count() == 1)
    val nAdds = cp.filter(col("add").isNotNull).count()
    assert(nAdds == 10, s"expected 10 live files at v9, got $nAdds")
    assert(cp.filter(col("add.dataChange") === true).count() == 0)

    // replay equals the bronze snapshot (checkpoint + 2-commit tail)
    assert(names(DeltaLog.read(spark, table)) ==
      names(BronzeMerge.snapshot(spark, table)))

    // log cleanup: JSON ≤ checkpoint version goes away, HEAD replay
    // still works from checkpoint + tail; sub-checkpoint time travel
    // now fails loudly (forfeited, like expired Delta history)
    val cleaned = DeltaLog.cleanObsoleteLogs(spark, table)
    assert(cleaned.size == 10 &&
      cleaned.head == "00000000000000000000.json")
    assert(names(DeltaLog.read(spark, table)) ==
      names(BronzeMerge.snapshot(spark, table)))
    assert(names(DeltaLog.read(spark, table, Some(10L))).size == 11)
    intercept[IllegalArgumentException] {
      DeltaLog.read(spark, table, Some(5L))
    }

    // further commits keep extending the tail past the checkpoint
    BronzeMerge.mergeIngestDf(spark, one("extra.txt"), table)
    assert(DeltaLog.latestLogVersion(spark, table) == 12L)
    assert(names(DeltaLog.read(spark, table)) ==
      names(BronzeMerge.snapshot(spark, table)))
  }

  test("delta log replay tracks the manifest under random operation sequences") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // seeded, hence deterministic — a randomized interleaving of
    // merge/delete/compact with both readers checked after EVERY
    // commit against the file names this test itself expects live;
    // the sequence is long enough to cross the checkpoint cadence, so
    // mid-sequence replays exercise checkpoint + tail, not just JSON
    val rnd = new scala.util.Random(20260814L)
    val table = Files.createTempDirectory("graft-dlog-prop")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    var next = 0
    val expected = scala.collection.mutable.SortedSet[String]()
    def newBatch(n: Int) = {
      val rows = (0 until n).map { _ =>
        next += 1
        expected += s"f$next.txt"
        (s"f$next.txt", next.toLong, ts(next),
          Array[Byte]((next % 127).toByte))
      }
      rows.toDF("file_name", "length", "modified", "content")
    }
    def names(df: org.apache.spark.sql.DataFrame) =
      df.select("file_name").collect().map(_.getString(0)).sorted.toSeq
    def check(): Unit = {
      val want = expected.toSeq
      val snap = names(BronzeMerge.snapshot(spark, table))
      assert(snap == want, s"snapshot diverged: $snap, expected $want")
      val log = names(DeltaLog.read(spark, table))
      assert(log == want, s"replay diverged: $log, expected $want")
    }
    BronzeMerge.mergeIngestDf(spark, newBatch(3), table)
    check()
    (1 to 14).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 | 3 =>
          BronzeMerge.mergeIngestDf(spark,
            newBatch(1 + rnd.nextInt(3)), table)
        case 1 =>
          // lengths equal the row's number: at most the one file f<k>
          val k = 1 + rnd.nextInt(next)
          BronzeMerge.deleteWhere(spark, table, col("length") === k.toLong)
          expected -= s"f$k.txt"
        case 2 => BronzeMerge.compact(spark, table)
      }
      check()
    }
  }

  test("csv ingest appends typed rows to the sink table") {
    val dir = Files.createTempDirectory("graft-csv")
    val sink = Files.createTempDirectory("graft-csv-out").resolve("t")
    Files.writeString(dir.resolve("one.csv"), "id,amount\n1,10.5\n2,20.0\n")
    assert(Ingest.ingestCsv(spark, dir.toString, sink.toString) == 2)
    // append semantics (C4 at-least-once: re-run adds rows)
    Files.writeString(dir.resolve("two.csv"), "id,amount\n3,1.0\n")
    assert(Ingest.ingestCsv(spark, dir.toString, sink.toString) == 5)
    val cols = spark.read.parquet(sink.toString).columns.toSet
    assert(cols == Set("id", "amount", "_ingest_file"))
  }

  test("expectations route violators to quarantine with reasons, one pass") {
    import graft.ingest.Expectations
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("good.txt", 5L, "hello"),
      ("empty.txt", 0L, ""),            // fails nonempty
      ("big.bin", 999999L, "x"),        // fails size_sane
      (null, 3L, "abc"))                // fails named (null predicate)
      .toDF("file_name", "length", "content")
    val checks = Seq(
      "named" -> col("file_name").isNotNull,
      "nonempty" -> (col("length") > 0),
      "size_sane" -> (col("length") < 100000L))
    val (clean, dead) = Expectations.route(rows, checks)
    assert(clean.collect().map(_.getString(0)).toSeq == Seq("good.txt"))
    assert(!clean.columns.contains("_violations"))
    val reasons = dead.collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") ->
        r.getSeq[String](r.fieldIndex("_violations")).toSet).toMap
    assert(reasons == Map(
      "empty.txt" -> Set("nonempty"),
      "big.bin" -> Set("size_sane"),
      "<null>" -> Set("named")))

    // single-pass partitioned write: both directories from one job
    val dest = Files.createTempDirectory("graft-dlq").resolve("routed")
    val (nClean, nDead) = Expectations.writeRouted(rows, checks,
      dest.toString)
    assert((nClean, nDead) == ((1L, 3L)))
    assert(Files.exists(dest.resolve("_quarantined=true")))
    assert(Files.exists(dest.resolve("_quarantined=false")))
  }

  test("incremental rollup refresh from the change feed equals full recompute") {
    import graft.ingest.BronzeMerge
    val dir = Files.createTempDirectory("graft-ivm")
    val table = Files.createTempDirectory("graft-ivm-out")
      .resolve("bronze").toString
    val mv = Files.createTempDirectory("graft-ivm-mv").resolve("mv").toString
    def rollup() = BronzeMerge.readRollup(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def expected() = {
      val t = Files.createTempDirectory("graft-ivm-exp")
        .resolve("exp").toString
      BronzeMerge.rebuildRollup(spark, table, t)
      BronzeMerge.readRollup(spark, t).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }

    Files.writeString(dir.resolve("a.txt"), "alpha")
    Files.writeString(dir.resolve("b.csv"), "bravo-2")
    BronzeMerge.mergeIngest(spark, dir.toString, table)
    val (f1, t1, d1) = BronzeMerge.refreshRollup(spark, table, mv)
    assert((f1, t1, d1) == ((0, 1, 2L)))
    assert(rollup() == expected())

    // second batch: the refresh reads ONLY the delta (2 new rows, not
    // the 4-row table) and still lands on the full-recompute answer
    Files.writeString(dir.resolve("c.txt"), "charlie!")
    Files.writeString(dir.resolve("d.csv"), "delta-four")
    BronzeMerge.mergeIngest(spark, dir.toString, table)
    val (f2, t2, d2) = BronzeMerge.refreshRollup(spark, table, mv)
    assert((f2, t2, d2) == ((1, 2, 2L)))
    assert(rollup() == expected())
    assert(rollup().map(_._1) == Set("txt", "csv"))

    // idempotent: same-version refresh is a no-op
    assert(BronzeMerge.refreshRollup(spark, table, mv) == ((2, 2, 0L)))

    // compaction rewrites batches → the feed window is unrepresentable
    // and refresh REFUSES (no silent wrong answer); rebuild recovers
    Files.writeString(dir.resolve("e.txt"), "echo")
    BronzeMerge.mergeIngest(spark, dir.toString, table)
    BronzeMerge.compact(spark, table)
    val err = intercept[IllegalArgumentException] {
      BronzeMerge.refreshRollup(spark, table, mv)
    }
    assert(err.getMessage.contains("change feed"))
    BronzeMerge.rebuildRollup(spark, table, mv)
    assert(rollup() == expected())
    assert(rollup().exists { case (e, n, _) => e == "txt" && n == 3 })

    // rebuild at the SAME table version (the recovery case): must not
    // overwrite the live directory in place — a reader holding the
    // pre-rebuild frame keeps working, the pointer lands on a fresh
    // -rN staging dir, and the answer is unchanged
    val preFrame = BronzeMerge.readRollup(spark, mv)
    val preRows = preFrame.collect().toSet
    BronzeMerge.rebuildRollup(spark, table, mv) // same version again
    assert(rollup() == expected())
    assert(preFrame.collect().toSet == preRows) // old frame still readable
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(mv))
    val names = scala.collection.mutable.Buffer[String]()
    try listing.iterator()
      .forEachRemaining(p => names += p.getFileName.toString)
    finally listing.close()
    assert(names.exists(_.matches("data_v\\d{8}-r\\d+")),
      s"expected a -rN staging dir, got ${names.mkString(",")}")

    // third rebuild: the plain-version dir now exists only as the
    // grace-window predecessor — staging must pick a fresh -rN and
    // never overwrite an existing dir in place
    val pre3 = BronzeMerge.readRollup(spark, mv)
    val pre3Rows = pre3.collect().toSet
    BronzeMerge.rebuildRollup(spark, table, mv)
    assert(rollup() == expected())
    assert(pre3.collect().toSet == pre3Rows)
  }

  test("legacy bare-integer rollup pointer stays readable and refreshable") {
    import graft.ingest.BronzeMerge
    val dir = Files.createTempDirectory("graft-mig")
    val table = Files.createTempDirectory("graft-mig-out")
      .resolve("bronze").toString
    val mv = Files.createTempDirectory("graft-mig-mv").resolve("mv").toString
    def rollup() = BronzeMerge.readRollup(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // materialize the view at table version 1 with the CURRENT layout…
    Files.writeString(dir.resolve("a.txt"), "alpha")
    Files.writeString(dir.resolve("b.csv"), "bravo-2")
    BronzeMerge.mergeIngest(spark, dir.toString, table)
    assert(BronzeMerge.refreshRollup(spark, table, mv) == ((0, 1, 2L)))
    val v1 = rollup()

    // …then rewrite it into the PRE-round-5 layout: parquet under the
    // literal `data` directory, `_version` holding the bare integer
    val mvP = java.nio.file.Paths.get(mv)
    Files.move(mvP.resolve("data_v00000001"), mvP.resolve("data"))
    Files.writeString(mvP.resolve("_version"), "1\n")
    // the NIO rewrite above bypasses Hadoop's ChecksumFileSystem —
    // drop the now-stale sidecar so the read sees the legacy bytes
    Files.deleteIfExists(mvP.resolve("._version.crc"))

    // old views stay readable through the migration shim
    assert(rollup() == v1)

    // and refreshable: the refresh must merge FROM version 1 (reading
    // the legacy `data` dir), land the merged view in the versioned
    // layout, and agree with a full recompute
    Files.writeString(dir.resolve("c.txt"), "charlie!")
    BronzeMerge.mergeIngest(spark, dir.toString, table)
    assert(BronzeMerge.refreshRollup(spark, table, mv) == ((1, 2, 1L)))
    val exp = {
      val t = Files.createTempDirectory("graft-mig-exp")
        .resolve("exp").toString
      BronzeMerge.rebuildRollup(spark, table, t)
      BronzeMerge.readRollup(spark, t).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(rollup() == exp)
    assert(Files.readString(mvP.resolve("_version")).trim
      == "data_v00000002") // migrated to the pointer-names-a-dir layout
    assert(Files.exists(mvP.resolve("data"))) // legacy dir untouched (not GC'd)
  }

  test("delta log: driver replay equals the parts on disk, incl. many files") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft-dlog-parts")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    // a many-files batch (multi-partition write → many parquet parts)
    // plus enough commits to cross the checkpoint cadence, then a
    // delete so the tail carries removes as well as adds
    val wide = (1 to 5000).map(i =>
      (f"w$i%05d.txt", i.toLong, ts(i), Array[Byte]((i % 127).toByte)))
      .toDF("file_name", "length", "modified", "content")
      .repartition(16)
    BronzeMerge.mergeIngestDf(spark, wide, table)
    (1 to 10).foreach { i =>
      BronzeMerge.mergeIngestDf(spark,
        Seq((s"x$i.txt", (10000 + i).toLong, ts(10000 + i),
          Array[Byte](1))).toDF("file_name", "length", "modified", "content"),
        table)
    }
    BronzeMerge.deleteWhere(spark, table, col("length") <= 2500L)
    val cp9 = Paths.get(table, "_delta_log",
      "00000000000000000009.checkpoint.parquet")
    assert(Files.exists(cp9))

    // the parquet parts on disk under a set of batch dirs, as logged
    def onDisk(batches: Seq[String]): Seq[DeltaLog.AddFile] =
      batches.flatMap { b =>
        val names = Files.list(Paths.get(table, b)).iterator()
        scala.jdk.CollectionConverters.IteratorHasAsScala(names).asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .filterNot(_.getFileName.toString.startsWith("."))
          .map(p => DeltaLog.AddFile(s"$b/${p.getFileName}", Files.size(p),
            Files.getLastModifiedTime(p).toMillis))
      }.sortBy(_.path)
    def batch(i: Int) = f"batch-$i%08d"
    // HEAD (log version 11: the delete rewrote the wide batch), the
    // checkpoint boundary itself, and the version after it
    val expected = Seq(
      None -> ("batch-00000012-cow0" +: (2 to 11).map(batch)),
      Some(9L) -> (1 to 10).map(batch),
      Some(11L) -> ("batch-00000012-cow0" +: (2 to 11).map(batch)))
    for ((v, batches) <- expected) {
      val st = DeltaLog.state(spark, table, v)
      assert(st.files.sortBy(_.path) == onDisk(batches),
        s"replayed state diverged from the parts on disk at version $v")
      assert(st.schema.map(_.fieldNames.toSeq) ==
        Some(Seq("file_name", "length", "modified", "content")))
    }
    assert(onDisk(Seq(batch(1))).size > 1, "the wide batch wrote one part")
    // an external client reads the driver-written checkpoint with
    // Spark's own parquet reader and finds the same add set
    val viaSpark = spark.read.parquet(cp9.toString)
      .filter(col("add").isNotNull)
      .select(col("add.path").as("path"), col("add.size").as("size"),
        col("add.modificationTime").as("modificationTime"))
      .as[DeltaLog.AddFile].collect().toSeq
    assert(viaSpark.sortBy(_.path) ==
      DeltaLog.state(spark, table, Some(9L)).files.sortBy(_.path))
    assert(DeltaLog.read(spark, table).count() ==
      BronzeMerge.snapshot(spark, table).count())
  }

  test("delta log: _last_checkpoint never regresses to an older version") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import spark.implicits._
    val table = Files.createTempDirectory("graft-dlog-ptr")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def one(n: String) = Seq((n, n.length.toLong, ts(n.hashCode & 127),
      Array[Byte](1))).toDF("file_name", "length", "modified", "content")
    (1 to 12).foreach(i =>
      BronzeMerge.mergeIngestDf(spark, one(f"p$i%02d.txt"), table))
    val logDir = Paths.get(table, "_delta_log")
    assert(Files.readString(logDir.resolve("_last_checkpoint"))
      .contains("\"version\":9"))
    // a stale/lagging caller re-checkpoints an OLD version: the
    // parquet is written, but the pointer must not move back
    assert(DeltaLog.writeCheckpoint(spark, table, 4L))
    assert(Files.exists(logDir.resolve(
      "00000000000000000004.checkpoint.parquet")))
    assert(Files.readString(logDir.resolve("_last_checkpoint"))
      .contains("\"version\":9"),
      "pointer regressed to the stale caller's checkpoint")
    // cleanup reclaims the JSON below v9 AND the stale v4 checkpoint
    // (below the retention anchor) — exactly the state where a
    // regressed pointer would have stranded the table unreadable
    DeltaLog.cleanObsoleteLogs(spark, table)
    assert(!Files.exists(logDir.resolve(
      "00000000000000000004.checkpoint.parquet")),
      "cleanup must reclaim checkpoints below the retention anchor")
    // a retry for the reclaimed version cannot rebuild its snapshot
    // (history is gone) — it must refuse, not throw mid-replay
    assert(!DeltaLog.writeCheckpoint(spark, table, 4L))
    assert(Files.readString(logDir.resolve("_last_checkpoint"))
      .contains("\"version\":9"),
      "pointer regressed to a pre-cleanup checkpoint")
    assert(DeltaLog.read(spark, table).count() == 12)
  }

  test("delta log sync fails loudly on a non-additive schema change") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val table = Files.createTempDirectory("graft-dlog-types")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    BronzeMerge.mergeIngestDf(spark,
      Seq(("a.txt", 1L, ts(1), Array[Byte](1), "tag-as-string"))
        .toDF("file_name", "length", "modified", "content", "tag"),
      table)
    // same column name, conflicting type: logging the stale
    // schemaString would hand an external reader a schema that
    // contradicts the new files' footers — the commit must refuse
    val before = BronzeMerge.currentCommit(spark, table)
    val e = intercept[IllegalArgumentException] {
      BronzeMerge.mergeIngestDf(spark,
        Seq(("b.txt", 2L, ts(2), Array[Byte](2), 42L))
          .toDF("file_name", "length", "modified", "content", "tag"),
        table)
    }
    assert(e.getMessage.contains("additive-only") &&
      e.getMessage.contains("tag"))
    // refused before anything committed: same version, no b.txt, and
    // the table still takes a valid batch
    assert(BronzeMerge.currentCommit(spark, table) == before)
    assert(BronzeMerge.snapshot(spark, table).select("file_name")
      .collect().map(_.getString(0)).toSeq == Seq("a.txt"))
    assert(BronzeMerge.mergeIngestDf(spark,
      Seq(("c.txt", 3L, ts(3), Array[Byte](3), "tag-c"))
        .toDF("file_name", "length", "modified", "content", "tag"),
      table) == 1L)
    assert(BronzeMerge.currentCommit(spark, table)._1 == before._1 + 1)
  }

  test("a batch emptied by deletes keeps blocking redelivery, before and " +
      "after a checkpoint") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val table = Files.createTempDirectory("graft-emptied")
      .resolve("bronze").toString
    val ts0 = new java.sql.Timestamp(1700000000000L)
    def rows(ids: (String, String)*) = ids.map { case (id, n) =>
      (id, n, n.length.toLong, ts0, n.getBytes("UTF-8")) }
      .toDF(BronzeMerge.IdCol, "file_name", "length", "modified", "content")
    val doomed = rows("i1" -> "a.txt", "i2" -> "bb.txt")
    BronzeMerge.mergeIngestDf(spark, doomed, table)                  // v1
    BronzeMerge.mergeIngestDf(spark, rows("i3" -> "c.txt"), table)  // v2
    // every row of batch 1 goes: its rewrite holds no row, yet the
    // batch set (read off the live adds) must still name it, or its
    // keys would stop blocking
    val dead = Seq("i1", "i2").toDF(BronzeMerge.IdCol)
    assert(BronzeMerge.deleteMatchingKeys(spark, table, dead,
      Seq(BronzeMerge.IdCol)) == ((3, 2L)))
    val (_, live) = BronzeMerge.currentCommit(spark, table)
    assert(live.size == 2 && live.exists(_.contains("cow")), live)
    assert(BronzeMerge.mergeIngestDf(spark, doomed, table) == 0L)
    // v4..v10: log version 9 is checkpointed, so the batch set now
    // comes from the checkpoint parquet
    (4 to 10).foreach(i =>
      BronzeMerge.mergeIngestDf(spark, rows(s"n$i" -> s"n$i.txt"), table))
    assert(Files.exists(Paths.get(table, "_delta_log",
      "00000000000000000009.checkpoint.parquet")))
    assert(live.forall(BronzeMerge.currentCommit(spark, table)._2.contains))
    assert(BronzeMerge.mergeIngestDf(spark, doomed, table) == 0L)
    assert(BronzeMerge.snapshot(spark, table).count() == 8)
  }

  test("once a checkpoint exists, resolving the commit runs no Spark job") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val table = Files.createTempDirectory("graft-dlog-jobs")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def merge(i: Int): Unit = BronzeMerge.mergeIngestDf(spark,
      Seq((f"j$i%02d.txt", i.toLong, ts(i), Array[Byte](1)))
        .toDF("file_name", "length", "modified", "content"), table)
    merge(1)
    val second = jobsIn(merge(2))
    (3 to 8).foreach(merge)
    // merge 10 lands log version 9 and writes the first checkpoint,
    // merge 20 the second, built on the first
    val ninth = jobsIn(merge(9))
    val tenth = jobsIn(merge(10))
    (11 to 12).foreach(merge)
    assert(Files.exists(Paths.get(table, "_delta_log",
      "00000000000000000009.checkpoint.parquet")))
    assert(jobsIn(BronzeMerge.currentCommit(spark, table)) == 0)
    val thirteenth = jobsIn(merge(13))
    (14 to 18).foreach(merge)
    val nineteenth = jobsIn(merge(19))
    val twentieth = jobsIn(merge(20))
    assert(Files.exists(Paths.get(table, "_delta_log",
      "00000000000000000019.checkpoint.parquet")))
    info(s"merge jobs: 2nd $second, 9th $ninth, 10th $tenth, " +
      s"13th $thirteenth, 19th $nineteenth, 20th $twentieth")
    assert(thirteenth <= second)
    assert(tenth <= ninth)
    assert(twentieth <= nineteenth)
  }

  test("a delete on a table never created is a no-op and creates no log") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("graft-dlog-none")
      .resolve("bronze").toString
    val dead = Seq("i1").toDF(BronzeMerge.IdCol)
    assert(BronzeMerge.deleteMatchingKeys(spark, table, dead,
      Seq(BronzeMerge.IdCol)) == ((0, 0L)))
    assert(BronzeMerge.deleteWhere(spark, table,
      col("file_name") === "a.txt") == ((0, 0L)))
    assert(!Files.exists(Paths.get(table, "_delta_log")))
    assert(BronzeMerge.currentCommit(spark, table) == ((0, Nil)))
  }

  test("delta log: a regressed checkpoint pointer self-heals via listing") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import spark.implicits._
    val table = Files.createTempDirectory("graft-dlog-heal")
      .resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def one(n: String) = Seq((n, n.length.toLong, ts(n.hashCode & 127),
      Array[Byte](1))).toDF("file_name", "length", "modified", "content")
    (1 to 12).foreach(i =>
      BronzeMerge.mergeIngestDf(spark, one(f"p$i%02d.txt"), table))
    val logDir = Paths.get(table, "_delta_log")
    // a lagging caller checkpoints v4; stash its parquet so we can
    // replant it after cleanup — reproducing the lost race where the
    // laggard's checkpoint + pointer land AFTER the cleanup pass
    assert(DeltaLog.writeCheckpoint(spark, table, 4L))
    val cp4 = logDir.resolve("00000000000000000004.checkpoint.parquet")
    val stash = Files.createTempDirectory("graft-cp-stash").resolve("cp4")
    Files.copy(cp4, stash)
    DeltaLog.cleanObsoleteLogs(spark, table)
    assert(!Files.exists(logDir.resolve("00000000000000000005.json")))
    assert(!Files.exists(cp4))
    // the laggard's artifacts land now: a VALID checkpoint parquet at
    // v4 plus the regressed pointer. A replay anchored at 4 cannot
    // reach HEAD (JSON 5..9 reclaimed) — the anchor probe must reject
    // the pointer and fall back to the listed v9.
    Files.copy(stash, cp4)
    Files.writeString(logDir.resolve("_last_checkpoint"),
      "{\"version\":4}\n")
    // the raw rewrite above bypasses the checksummed fs — drop the
    // now-stale sidecar as the simulated stale writer would have
    Files.deleteIfExists(logDir.resolve("._last_checkpoint.crc"))
    assert(DeltaLog.read(spark, table).count() == 12,
      "regressed pointer stranded the HEAD read")
    assert(DeltaLog.state(spark, table).files.size == 12)
  }

  test("delta log leaves no temp files or orphaned crc sidecars") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import graft.pipeline.DeltaCheckpoint
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dlog-tidy")
    val table = root.resolve("bronze").toString
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    def one(n: String) = Seq((n, n.length.toLong, ts(n.hashCode & 127),
      Array[Byte](1))).toDF("file_name", "length", "modified", "content")
    val mv = root.resolve("mv").toString
    (1 to 12).foreach { i =>
      BronzeMerge.mergeIngestDf(spark, one(f"p$i%02d.txt"), table)
      if (i > 10) BronzeMerge.refreshRollup(spark, table, mv)
    }
    DeltaLog.writeCheckpoint(spark, table, 11L)
    val ck = new DeltaCheckpoint(root.resolve("ck").toString)
    ck.save("https://graph.example.test/delta?token=1")
    ck.save("https://graph.example.test/delta?token=2")
    assert(ck.load().contains("https://graph.example.test/delta?token=2"))
    Seq(Paths.get(table, "_delta_log"), Paths.get(mv),
        root.resolve("ck")).foreach { dir =>
      val names = Files.list(dir).iterator()
      val all = scala.jdk.CollectionConverters.IteratorHasAsScala(names)
        .asScala.map(_.getFileName.toString).toSeq
      val tmps = all.filter(n => n.contains(".tmp") || n.startsWith(".cp-tmp"))
      assert(tmps.isEmpty, s"leaked temp artifacts in $dir: $tmps")
      // a ChecksumFileSystem create + FileContext rename would leave
      // one orphaned `.<temp>.crc` PER PUBLISHED FILE — a crc sidecar
      // is orphaned when the file it checksums is gone
      val orphanCrc = all.filter(_.endsWith(".crc")).filterNot { n =>
        all.contains(n.stripPrefix(".").stripSuffix(".crc"))
      }
      assert(orphanCrc.isEmpty, s"orphaned crc sidecars in $dir: $orphanCrc")
    }
  }

  test("delta path codec: opaque and unencoded external paths fall back raw") {
    import graft.ingest.DeltaLog
    assert(DeltaLog.decodePath("a%20b/part-0001.parquet") ==
      "a b/part-0001.parquet")
    // a first segment containing ':' parses as an opaque URI whose
    // getPath is null — the lenient fallback must return the raw
    // path, not null
    assert(DeltaLog.decodePath("part:0001.parquet") == "part:0001.parquet")
    // an unencoded space fails URI parsing entirely — raw fallback
    assert(DeltaLog.decodePath("a b/part.parquet") == "a b/part.parquet")
    assert(DeltaLog.decodePath(
      DeltaLog.encodePath("batch-1/x y.parquet")) == "batch-1/x y.parquet")
  }
}
