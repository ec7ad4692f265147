package graft.streaming

import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
import graft.pipeline.HttpListing.{HttpResponse, RetryPolicy, Transport}

/** Scale rehearsal for the sync-drain paths (SCALE.md r15): drives
  * [[Streams.syncToBronzePaged]] against a SYNTHETIC Graph endpoint
  * at a 100k-item change window. The machinery under test is exactly
  * the round-15 changed set — paged discovery (O(page) driver), the
  * window-idempotent staging write, the by-id executor-side drain
  * with the real change stamp, the idempotent id-carrying merge, and
  * the anti-join mass-tombstone delete. Content is deliberately tiny
  * (64 B/item) so the numbers measure STATE machinery, not blob
  * bandwidth — the bandwidth-bound path is the chunked range-GET,
  * priced separately by its own specs. A second leg re-runs the same
  * window with a 1% PERMANENT failure rate under a quarantine dir,
  * pricing per-item isolation (the window still commits; failures
  * park and the tombstone window reconciles them away).
  *
  * Usage: `runMain graft.streaming.DrainRehearsal [nItems] [outFile]`
  * — prints one JSON line; `outFile` gets the same record.
  */
object DrainRehearsal {

  /** Self-contained synthetic Graph endpoint: pages and blobs are
    * GENERATED from the URL — nothing held in memory, so the object
    * serializes into executor fetch tasks trivially and the change
    * window never exists anywhere as a collection. Window 1 lists
    * `n` created files (1000/page); window 2 tombstones all of them.
    * `failEvery > 0` makes every failEvery-th item's content GET a
    * permanent 500 — the poison-item case. */
  final class SyntheticGraph(base: String, n: Int, pageSize: Int,
      contentBytes: Int, failEvery: Int) extends Transport {
    private def item(k: Int): String =
      s"""{"id":"r$k","name":"f$k.bin","size":$contentBytes,""" +
        """"lastModifiedDateTime":"2024-03-01T00:00:00Z",""" +
        """"file":{"mimeType":"application/octet-stream"},""" +
        """"parentReference":{"path":"/drives/rehearsal/root:/in"}}"""
    private def tomb(k: Int): String =
      s"""{"id":"r$k","name":"f$k.bin","deleted":{"state":"deleted"}}"""
    private def page(w: Int, p: Int): String = {
      val lo = p * pageSize
      val hi = math.min(n, lo + pageSize)
      val items = (lo until hi)
        .map(k => if (w == 1) item(k) else tomb(k)).mkString(",")
      val link =
        if (hi < n)
          s""""@odata.nextLink":"$base/root/delta?w=$w&p=${p + 1}""""
        else s""""@odata.deltaLink":"$base/root/delta?token=W$w""""
      s"""{"value":[$items],$link}"""
    }
    override def get(url: String): HttpResponse = url match {
      case u if u == s"$base/root/delta" => HttpResponse(200, page(1, 0))
      case u if u == s"$base/root/delta?token=W1" =>
        HttpResponse(200, page(2, 0))
      case u if u == s"$base/root/delta?token=W2" =>
        // idle incremental round: nothing changed
        HttpResponse(200,
          s"""{"value":[],"@odata.deltaLink":"$base/root/delta?token=W2"}""")
      case u if u.startsWith(s"$base/root/delta?w=") =>
        val q = u.substring(u.indexOf("?w=") + 3)
        val parts = q.split("&p=")
        HttpResponse(200, page(parts(0).toInt, parts(1).toInt))
      case u if u.startsWith(s"$base/items/") =>
        val k = u.stripPrefix(s"$base/items/r")
          .stripSuffix("/content").toInt
        if (failEvery > 0 && k % failEvery == 0)
          HttpResponse(500, "permanent storage fault")
        else HttpResponse(200, null, Map.empty,
          Array.tabulate(contentBytes)(i => ((k * 31 + i) % 251).toByte))
      case u => throw new IllegalArgumentException(s"unexpected $u")
    }
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 100000
    val out = if (args.length > 1) Some(args(1)) else None
    val spark = graft.Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = "https://graph.example.test/drives/rehearsal"
    val policy = RetryPolicy(maxRetries = 1, baseDelayMs = 0)

    /** One full lifecycle: window 1 (create+drain n items), window 2
      * (tombstone all n). Returns (drainSec, tombSec, landed,
      * parkedAfterW1). */
    def leg(nItems: Int, failEvery: Int, quarantine: Boolean)
        : (Double, Double, Long, Int) = {
      val work = java.nio.file.Files
        .createTempDirectory("graft-drain-rehearsal").toString
      val transport = new SyntheticGraph(base, nItems, 1000, 64, failEvery)
      val prov = new DeltaListingProvider(base, transport,
        sleeper = _ => ())
      val ck = new DeltaCheckpoint(s"$work/ck")
      val table = s"$work/bronze"
      val qdir = if (quarantine) Some(s"$work/quarantine") else None
      val t0 = System.nanoTime()
      Streams.syncToBronzePaged(spark, prov, ck, s"$work/staging",
        transport, base, table, policy = policy, quarantineDir = qdir)
      val t1 = System.nanoTime()
      val landed = graft.ingest.BronzeMerge.snapshot(spark, table).count()
      val parked = qdir.map(q =>
        Streams.readQuarantine(spark, q).size).getOrElse(0)
      val t2 = System.nanoTime()
      Streams.syncToBronzePaged(spark, prov, ck, s"$work/staging",
        transport, base, table, policy = policy, quarantineDir = qdir)
      val t3 = System.nanoTime()
      val left = graft.ingest.BronzeMerge.snapshot(spark, table).count()
      require(left == 0, s"mass tombstone left $left rows")
      ((t1 - t0) / 1e9, (t3 - t2) / 1e9, landed, parked)
    }

    // untimed warm-up absorbs JVM/codegen/committer startup
    leg(1000, 0, quarantine = false)
    val (drainSec, tombSec, landed, _) = leg(n, 0, quarantine = false)
    require(landed == n, s"expected $n landed, got $landed")
    val (qDrainSec, qTombSec, qLanded, parked) =
      leg(n, 100, quarantine = true)
    require(parked == n / 100 && qLanded == n - parked,
      s"expected ${n / 100} parked over ${n - n / 100} landed, " +
        s"got $parked / $qLanded")
    val line =
      s"""{"metric":"drain_rehearsal","n_items":$n,""" +
        f""""sync_drain_sec":$drainSec%.2f,""" +
        f""""mass_tombstone_sec":$tombSec%.2f,""" +
        f""""quarantine_drain_sec":$qDrainSec%.2f,""" +
        f""""quarantine_tombstone_sec":$qTombSec%.2f,""" +
        s""""landed":$landed,"parked":$parked}"""
    out.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), line + "\n"))
    println(line)
    spark.stop()
  }
}
