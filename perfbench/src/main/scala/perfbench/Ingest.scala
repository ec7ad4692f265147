package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.ingest.BronzeMerge
import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
import graft.pipeline.HttpListing.RetryPolicy
import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One SharePoint→bronze lifecycle against a [[GraphEndpoint]]: a create
  * window, an update window, idle polls and a mass-tombstone window,
  * each a [[Streams.syncToBronzePaged]] call with a quarantine dir.
  * Bronze is read back and checked after every window. With tracing on,
  * each window is preceded by shadow calls into the layers it is made
  * of, run on copies so the real state is untouched. */
final class IngestRound(spark: SparkSession, work: Path, shape: DriveShape,
    trace: Trace, counters: Option[SparkCounters]) {

  val policy = RetryPolicy(maxRetries = 3, baseDelayMs = 0)
  val chunkBytes = 64 << 10
  private val base = s"https://graph.bench.test/${work.getFileName}"
  private val endpoint = new GraphEndpoint(base, shape)
  // 429s carry Retry-After: 0, so listing retries never need to sleep
  private val provider = new DeltaListingProvider(base, endpoint, policy,
    sleeper = _ => ())
  private val ck = new DeltaCheckpoint(work.resolve("ck").toString)
  private val table = work.resolve("bronze").toString
  private val qdir = work.resolve("quarantine").toString
  private val staging = work.resolve("staging").toString

  /** Seconds of each window, in order. */
  val windows = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit =
    layer(k) = layer.getOrElse(k, 0.0) + v
  var attempted = 0
  var failed = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) failures += what

  /** Runs window `w`, checks it, and returns its wall seconds. */
  private def window(name: String, w: Int): Double = {
    attempted += 1
    endpoint.phase = w
    val from = ck.load()
    if (trace.enabled) shadow(w, from)
    val http0 = GraphCounters.snapshot()
    val work0 = counters.map(_.snapshot())
    val files0 = files(Paths.get(table))
    val version0 = BronzeMerge.currentCommit(spark, table)._1
    val sw = new Stopwatch
    val ok = try {
      trace.span(s"sync.$name") {
        Streams.syncToBronzePaged(spark, provider, ck, staging, endpoint,
          base, table, policy, chunkBytes, quarantineDir = Some(qdir))
      }
      true
    } catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$name window threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200)
        false
    }
    val dt = sw.seconds
    add("wall.op_total_s", sw.wallS)
    add("steal.s", sw.wallS - dt)
    if (!ok) { failed += 1; return dt }
    val bad = failures.size
    check(ck.load().contains(endpoint.deltaLink(w)),
      s"$name: checkpoint is ${ck.load()}, expected token=$w")
    check(ck.load() != from, s"$name: checkpoint did not advance")
    if (trace.enabled) {
      val http = GraphCounters.snapshot()
      def d(k: String) = http.getOrElse(k, 0L) - http0.getOrElse(k, 0L)
      val statuses = http.keySet.filter(_ != "bytes")
      val total = statuses.toSeq.map(d).sum
      val ok2xx = statuses.filter(k => k.endsWith(".200") ||
        k.endsWith(".206")).toSeq.map(d).sum
      val n429 = statuses.filter(_.endsWith(".429")).toSeq.map(d).sum
      val n500 = d("content.500")
      add("pipeline.http_requests", total)
      add("pipeline.http_ok", ok2xx)
      add("pipeline.http_retries",
        n429 + n500 * policy.maxRetries / (policy.maxRetries + 1))
      add("pipeline.http_bytes", d("bytes"))
      work0.foreach { w0 =>
        val dw = counters.get.snapshot() - w0
        add("streaming.jobs", dw.jobs)
      }
      val after = files(Paths.get(table))
      val fresh = after -- files0.keySet
      add("ingest.files_written", fresh.size)
      add("ingest.bytes_written", fresh.values.sum)
      add("ingest.commits",
        BronzeMerge.currentCommit(spark, table)._1 - version0)
    }
    failed += (if (failures.size > bad) 1 else 0)
    dt
  }

  /** Every regular file under `dir` with its size. */
  private def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.size(p)).toMap
      } finally s.close()
    }

  /** Bronze's live rows: latest generation per id, (length, crc32). */
  private def readLive(): Map[String, (Long, Long)] =
    BronzeMerge.snapshot(spark, table)
      .select(col(BronzeMerge.IdCol), col("modified"), col("length"),
        crc32(col("content")).as("crc"))
      .collect().toSeq
      .groupBy(_.getString(0)).map { case (id, rows) =>
        val r = rows.maxBy(_.getTimestamp(1).getTime)
        id -> ((r.getLong(2), r.getLong(3)))
      }

  private def quarantined(): Set[String] =
    if (!Files.exists(Paths.get(qdir))) Set.empty
    else spark.read.parquet(qdir).select(BronzeMerge.IdCol).collect()
      .map(_.getString(0)).toSet

  private def checkBronze(name: String, live: Map[String, (Long, Long)],
      phase: Int): Unit = {
    val want = shape.expectedLive(phase)
    check(live.size == want.size,
      s"$name: ${live.size} live ids landed, expected ${want.size}")
    check(live == want, s"$name: landed content differs from the source " +
      s"(${(live.toSet diff want.toSet).size} ids)")
    val q = quarantined()
    check(q == shape.expectedQuarantine(phase),
      s"$name: quarantine holds ${q.size} ids, expected " +
        shape.expectedQuarantine(phase).size)
  }

  def run(): Unit = {
    val create = window("create", 1)
    windows += "create" -> create
    if (failures.isEmpty) checkBronze("create", readLive(), 1)
    val update = window("update", 2)
    windows += "update" -> update
    if (failures.isEmpty) {
      val sw = new Stopwatch
      val live = trace.span("sync.bronze_read")(readLive())
      layer("sync.bronze_read_s") = sw.seconds
      checkBronze("update", live, 2)
      val stored = files(Paths.get(table)).values.sum.toDouble
      layer("sync.bytes_stored_per_byte") =
        stored / math.max(1L, live.values.map(_._1).sum)
      layer("ingest.snapshot_files") = BronzeMerge.currentCommit(spark,
        table)._2.map(b => files(Paths.get(table, b)).keys
          .count(_.endsWith(".parquet"))).sum
      layer("streaming.quarantined") = quarantined().size
    }
    (1 to shape.idlePolls).foreach { i =>
      windows += "idle" -> window("idle", 2 + i)
    }
    val tomb = window("tombstone", shape.tombWindow)
    windows += "tombstone" -> tomb
    if (failures.isEmpty) {
      val left = BronzeMerge.snapshot(spark, table).count()
      check(left == 0, s"tombstone window left $left rows")
      check(quarantined().isEmpty, "tombstone window left quarantined ids")
    }
    val live1 = shape.expectedLive(1).size
    layer("sync.items_per_s") = live1 / create
    layer("sync.create_window_s") = create
    layer("sync.update_window_s") = update
    layer("sync.tombstone_window_s") = tomb
    val idle = windows.collect { case ("idle", s) => s }.sorted
    if (idle.nonEmpty) layer("sync.idle_poll_s") = idle(idle.size / 2)
  }

  private def copyTree(from: Path, to: Path): Unit =
    if (Files.exists(from)) {
      val s = Files.walk(from)
      try s.forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      } finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Times each layer of window `w` alone, on copies of the state. */
  private def shadow(w: Int, from: Option[String]): Unit = {
    import spark.implicits._
    val sh = work.resolve("shadow")
    deleteTree(sh)
    var pages, items = 0L
    val tList = timed("pipeline.list") {
      provider.syncPages(from) { p => pages += 1; items += p.size }
    }._2
    add("pipeline.list_s", tList)
    add("pipeline.list_pages", pages)
    add("pipeline.list_items", items)
    val sck = new DeltaCheckpoint(sh.resolve("ck").toString)
    from.foreach(sck.save)
    val shStaging = sh.resolve("staging").toString
    val (link, tDisc) = timed("streaming.discover") {
      Streams.discoverIncrementPaged(spark, provider, sck, shStaging)
      sck.load().get
    }
    add("streaming.stage_s", math.max(0.0, tDisc - tList))
    val live = Paths.get(s"${shStaging}_window/live")
    if (Files.exists(live)) {
      val d = sh.resolve("bronze_drain")
      copyTree(Paths.get(table), d)
      val (_, t) = timed("streaming.drain") {
        Streams.drainItemsIsolated(spark, endpoint, base,
          spark.read.parquet(live.toString), d.toString, policy, chunkBytes)
      }
      add("streaming.drain_s", t)
      val rows = (0 until shape.windowSize(w)).map(shape.windowItem(w, _))
        .collect { case (k, false) if shape.fetchable(k, w) =>
          val g = shape.gen(k, w)
          val c = shape.content(k, g)
          (s"r$k", s"f$k.bin", c.length.toLong, java.sql.Timestamp.from(
            java.time.Instant.parse(shape.modified(k, g))), c)
        }
      val pre = rows.toDF(BronzeMerge.IdCol, "file_name", "length",
        "modified", "content").localCheckpoint()
      val m = sh.resolve("bronze_merge")
      copyTree(Paths.get(table), m)
      add("ingest.merge_s",
        timed("ingest.merge")(BronzeMerge.mergeIngestDf(spark, pre,
          m.toString))._2)
    }
    val dead = Paths.get(s"${shStaging}_window/dead")
    if (Files.exists(dead) && Files.exists(Paths.get(table))) {
      val x = sh.resolve("bronze_delete")
      copyTree(Paths.get(table), x)
      add("ingest.delete_s", timed("ingest.delete") {
        BronzeMerge.deleteMatchingKeys(spark, x.toString,
          spark.read.parquet(dead.toString), Seq(BronzeMerge.IdCol))
      }._2)
    }
    val ck2 = new DeltaCheckpoint(sh.resolve("ck2").toString)
    add("pipeline.checkpoint_s",
      timed("pipeline.checkpoint")(ck2.save(link))._2)
    deleteTree(sh)
  }

  private def timed[T](name: String)(body: => T): (T, Double) = {
    val sw = new Stopwatch
    val r = trace.span(name)(body)
    (r, sw.seconds)
  }
}
