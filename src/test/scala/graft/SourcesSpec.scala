package graft

import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {

  private def catalog(folders: Int = 6, files: Int = 40) =
    spark.read.format("graph-items")
      .option("folders", folders.toString)
      .option("filesPerFolder", files.toString)
      .load()

  test("DSv2 source serves the full deterministic catalog") {
    val df = catalog()
    assert(df.count() == 6 * 40)
    assert(df.columns.toSeq == Seq("folder_name", "name", "file_mime",
      "size", "download_url"))
    val r = df.filter(col("name") === "folder_2_doc_3.csv").head()
    assert(r.getAs[Long]("size") == (2 * 31 + 3 * 7) % 1000)
  }

  test("folder filter is pushed down: pruned partitions, fewer rows read") {
    val df = catalog().filter(col("folder_name").isin("folder_1", "folder_3"))
    assert(df.count() == 2 * 40)
    // the scan's description reports which folders it will list — the
    // pushdown means only the two requested folders appear
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graph-items folders="))
    assert(plan.contains("folder_1") && plan.contains("folder_3"))
    assert(!plan.contains("folder_0"))
  }

  test("reader follows continuation tokens across multiple pages") {
    import graft.sources.GraphCatalogSource
    // 25 files at pageSize 7 → pages of 7,7,7,4 per folder: every row
    // must arrive and the service must have been asked for ALL pages
    // (the reference read only the first response — SURVEY §7.4)
    GraphCatalogSource.pagesServed.set(0)
    val rows = spark.read.format("graph-items")
      .option("folders", "2")
      .option("filesPerFolder", "25")
      .option("pageSize", "7")
      .load()
      .collect()
    assert(rows.length == 2 * 25)
    assert(rows.map(_.getAs[String]("name")).distinct.length == 2 * 25)
    assert(GraphCatalogSource.pagesServed.get() == 2 * 4)
    // paginated and unpaginated listings agree row-for-row
    val unpaged = spark.read.format("graph-items")
      .option("folders", "2").option("filesPerFolder", "25")
      .option("pageSize", "1000").load().collect()
    assert(rows.map(_.toString).sorted.toSeq ==
      unpaged.map(_.toString).sorted.toSeq)
  }

  test("limit pushdown stops pagination after the needed pages") {
    import graft.sources.GraphCatalogSource
    // 100 files at pageSize 10 → an unlimited listing costs 10 pages
    // per folder; the reference's "first drive" pattern (limit 1,
    // sharepoint_to_bronze_delta.py:66) must cost ONE page per folder
    GraphCatalogSource.pagesServed.set(0)
    val df = spark.read.format("graph-items")
      .option("folders", "3")
      .option("filesPerFolder", "100")
      .option("pageSize", "10")
      .load()
      .limit(1)
    assert(df.queryExecution.executedPlan.toString.contains("limit=1"))
    val rows = df.collect()
    assert(rows.length == 1)
    // at most one page per (possibly-scheduled) partition, never the
    // 30 a full listing costs — Spark may not even launch all tasks
    assert(GraphCatalogSource.pagesServed.get() <= 3,
      s"served ${GraphCatalogSource.pagesServed.get()} pages")
    // a larger pushed limit spans just enough pages
    GraphCatalogSource.pagesServed.set(0)
    val r25 = spark.read.format("graph-items")
      .option("folders", "1")
      .option("filesPerFolder", "100")
      .option("pageSize", "10")
      .load()
      .limit(25).collect()
    assert(r25.length == 25)
    assert(GraphCatalogSource.pagesServed.get() == 3) // ceil(25/10)
  }

  test("mime filter is pushed down: applied at the source, intersected") {
    // fixture mimes cycle csv→pdf→png by item index: 40 files/folder →
    // 14 csv (j=0,3,…,39), 13 pdf, 13 png
    val df = catalog().filter(col("file_mime") === "text/csv")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("mimes=text/csv"), plan)
    // the pushed predicate is REMOVED from Spark's post-scan filters,
    // so the row count proves the reader itself applied it
    assert(df.count() == 6 * 14)
    assert(df.select("file_mime").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("text/csv"))
    // conjunctive predicates intersect (never union): an impossible
    // conjunction yields zero rows, not the IN-list superset
    assert(catalog().filter(col("file_mime") === "text/csv" &&
      col("file_mime").isin("application/pdf", "image/png")).count() == 0)
    // mime + folder pushdowns compose; IN-lists work on both columns
    val both = catalog()
      .filter(col("folder_name") === "folder_2" &&
        col("file_mime").isin("application/pdf", "image/png"))
    assert(both.count() == 13 + 13)
  }

  test("pushed limit counts rows surviving the pushed mime filter") {
    import graft.sources.GraphCatalogSource
    // csv items are 1 of every 3 listed: a limit of 5 surviving rows
    // must keep listing pages until 5 csv items have been seen
    GraphCatalogSource.pagesServed.set(0)
    val rows = spark.read.format("graph-items")
      .option("folders", "1")
      .option("filesPerFolder", "100")
      .option("pageSize", "10")
      .load()
      .filter(col("file_mime") === "text/csv")
      .limit(5).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[String]("file_mime") == "text/csv"))
    // 5th csv is j=12 (j=0,3,6,9,12) → pages [0,10) and [10,20): 2 pages
    assert(GraphCatalogSource.pagesServed.get() == 2,
      s"served ${GraphCatalogSource.pagesServed.get()} pages")
  }

  test("COUNT(*) is answered by the source without listing a single page") {
    import graft.sources.GraphCatalogSource
    // plain count: complete aggregate pushdown → one metadata answer,
    // zero listing pages (Graph's $count=true pattern)
    GraphCatalogSource.pagesServed.set(0)
    val df = catalog(folders = 6, files = 30)
    assert(df.count() == 6 * 30)
    assert(GraphCatalogSource.pagesServed.get() == 0,
      s"count listed ${GraphCatalogSource.pagesServed.get()} pages")
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("agg=count-pushed"))
    // the pushed count COMPOSES with pushed filters: csv is 1 of 3
    GraphCatalogSource.pagesServed.set(0)
    assert(df.filter(col("file_mime") === "text/csv").count() == 6 * 10)
    assert(df.filter(col("folder_name") === "folder_2").count() == 30)
    assert(GraphCatalogSource.pagesServed.get() == 0)
    // grouped aggregates are NOT pushed — the row scan still runs and
    // stays correct
    GraphCatalogSource.pagesServed.set(0)
    val grouped = df.groupBy("file_mime").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped == Map("text/csv" -> 60L, "application/pdf" -> 60L,
      "image/png" -> 60L))
    assert(GraphCatalogSource.pagesServed.get() > 0)
  }

  test("column pruning reaches the reader") {
    val df = catalog().select("folder_name", "size")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=folder_name,size"))
    assert(df.agg(sum("size")).head().getLong(0) ==
      (for (f <- 0 until 6; j <- 0 until 40) yield (f * 31 + j * 7) % 1000).sum)
  }

  // ---- graft-bronze DSv2 write path -------------------------------

  private def bronzeBatch(names: Seq[String]) = {
    import TestSpark.spark.implicits._
    names.map(n => (n, n.length.toLong,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        n.getBytes("UTF-8")))
      .toDF("file_name", "length", "modified", "content")
  }

  test("graft-bronze DSv2 write: append routes through the idempotent merge") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    val table = java.nio.file.Files
      .createTempDirectory("graft-dsv2-bronze").resolve("t").toString

    // first append through the PUBLIC write API — no graft classes
    bronzeBatch(Seq("a.txt", "b.txt"))
      .write.format("graft-bronze").mode("append").save(table)
    assert(BronzeMerge.currentCommit(spark, table)._1 == 1)
    assert(BronzeMerge.snapshot(spark, table).count() == 2)

    // exact re-run: MERGE semantics, not blind append — nothing lands,
    // no empty commit
    bronzeBatch(Seq("a.txt", "b.txt"))
      .write.format("graft-bronze").mode("append").save(table)
    assert(BronzeMerge.currentCommit(spark, table)._1 == 1)
    assert(BronzeMerge.snapshot(spark, table).count() == 2)

    // overlapping batch: only the new identity lands
    bronzeBatch(Seq("b.txt", "c.txt"))
      .write.format("graft-bronze").mode("append").save(table)
    assert(BronzeMerge.snapshot(spark, table)
      .select("file_name").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted.toSeq == Seq("a.txt", "b.txt", "c.txt"))

    // the _delta_log advanced with the public-API commits
    // (delta versions are 0-based: bronze vN ↔ log version N-1)
    assert(DeltaLog.latestLogVersion(spark, table) ==
      BronzeMerge.currentCommit(spark, table)._1.toLong - 1)

    // round-trip: content read back bitwise
    val back = BronzeMerge.snapshot(spark, table)
      .select("file_name", "content").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8"))
      .toMap
    assert(back == Map("a.txt" -> "a.txt", "b.txt" -> "b.txt",
      "c.txt" -> "c.txt"))
  }

  test("graft-bronze DSv2 write: append-only and key columns enforced") {
    import TestSpark.spark.implicits._
    val table = java.nio.file.Files
      .createTempDirectory("graft-dsv2-guard").resolve("t").toString
    bronzeBatch(Seq("a.txt"))
      .write.format("graft-bronze").mode("append").save(table)

    // overwrite: no truncating capability — Spark refuses the plan
    intercept[Exception] {
      bronzeBatch(Seq("x.txt"))
        .write.format("graft-bronze").mode("overwrite").save(table)
    }
    assert(graft.ingest.BronzeMerge.snapshot(spark, table).count() == 1)

    // a batch without the identity key fails at plan time, loudly
    val bad = intercept[Exception] {
      Seq(("nokey", 1L)).toDF("name", "length")
        .write.format("graft-bronze").mode("append").save(table)
    }
    assert(bad.getMessage.contains("identity key"),
      s"unexpected: ${bad.getMessage}")
  }

  test("graft-bronze DSv2 write: additive schema evolution carries through") {
    import TestSpark.spark.implicits._
    import graft.ingest.BronzeMerge
    val table = java.nio.file.Files
      .createTempDirectory("graft-dsv2-evolve").resolve("t").toString
    bronzeBatch(Seq("a.txt"))
      .write.format("graft-bronze").mode("append").save(table)

    // wider batch via the public API (ACCEPT_ANY_SCHEMA): the store
    // takes it, mergeSchema reads surface the new column
    bronzeBatch(Seq("d.txt"))
      .withColumn("source_url", org.apache.spark.sql.functions
        .concat(org.apache.spark.sql.functions.lit("https://x/"),
          org.apache.spark.sql.functions.col("file_name")))
      .write.format("graft-bronze").mode("append").save(table)
    val snap = BronzeMerge.snapshot(spark, table, mergeSchema = true)
    assert(snap.columns.contains("source_url"))
    assert(snap.count() == 2)
    assert(snap.filter(org.apache.spark.sql.functions
      .col("source_url").isNotNull).count() == 1)
  }

  test("delta query: initial sync pages to a deltaLink; resync fetches only the changes") {
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import graft.pipeline.HttpListing.{HttpResponse, Transport}
    val base = "https://graph.example.test/drives/d1"
    val page2 = s"$base/root/delta?skiptoken=p2"
    val delta1 = s"$base/root/delta?token=T1"
    val delta2 = s"$base/root/delta?token=T2"
    def item(id: String, name: String, folder: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,
         |"file":{"mimeType":"text/plain"},
         |"parentReference":{"path":"/drives/d1/root:/$folder"}}"""
        .stripMargin.replace("\n", "")
    val script = Map(
      s"$base/root/delta" -> HttpResponse(200,
        s"""{"value":[${item("i1", "a.txt", "in", 3)},
           |{"id":"i9","name":"docs","folder":{"childCount":1},
           |"parentReference":{"path":"/drives/d1/root:"}}],
           |"@odata.nextLink":"$page2"}""".stripMargin.replace("\n", "")),
      page2 -> HttpResponse(200,
        s"""{"value":[${item("i2", "b.txt", "in", 5)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", "")),
      delta1 -> HttpResponse(200,
        s"""{"value":[${item("i2", "b.txt", "in", 9)},
           |{"id":"i1","name":"a.txt","deleted":{"state":"deleted"}}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", "")))
    val calls = scala.collection.mutable.Buffer[String]()
    val transport = new Transport {
      override def get(url: String): HttpResponse = {
        calls += url
        script.getOrElse(url, fail(s"unexpected GET $url"))
      }
    }
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    // one window's pages collected in protocol order, plus its deltaLink
    def sync(from: Option[String]) = {
      val items = Seq.newBuilder[graft.pipeline.DeltaListing.DeltaItem]
      val link = prov.syncPages(from)(items ++= _)
      (items.result(), link)
    }

    // initial sync: full catalog over two pages, folder surfaces with
    // null mime, deltaLink captured from the FINAL page
    val (full, fullLink) = sync(None)
    assert(fullLink == delta1)
    assert(full.map(_.name) == Seq("a.txt", "docs", "b.txt"))
    assert(full.filter(_.mime != null).map(_.name) ==
      Seq("a.txt", "b.txt"))
    assert(full.forall(!_.deleted))
    assert(full.head.path == "/drives/d1/root:/in")

    // incremental sync: ONLY the changed item + the tombstone come
    // back, and the full-catalog URL is never hit again
    val (incr, incrLink) = sync(Some(fullLink))
    assert(calls.count(_ == s"$base/root/delta") == 1,
      "incremental sync must not re-list the catalog")
    assert(incr.map(i => (i.name, i.deleted)) ==
      Seq(("b.txt", false), ("a.txt", true)))
    assert(incr.head.size == 9L)
    assert(incrLink == delta2)

    // checkpoint round-trip: absent → None; save → load returns it
    val dir = java.nio.file.Files
      .createTempDirectory("graft-deltackpt").toString
    val ck = new DeltaCheckpoint(dir)
    assert(ck.load().isEmpty)
    ck.save(incrLink)
    assert(ck.load().contains(delta2))
  }

  test("delta query: a sync ending without a deltaLink fails loudly") {
    import graft.pipeline.DeltaListingProvider
    import graft.pipeline.HttpListing.{HttpResponse, Transport}
    val base = "https://graph.example.test/drives/d1"
    val transport = new Transport {
      override def get(url: String): HttpResponse =
        HttpResponse(200, """{"value":[]}""")
    }
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val e = intercept[RuntimeException](prov.syncPages(None)(_ => ()))
    assert(e.getMessage.contains("deltaLink"))
  }
}
