package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.pipeline.HttpListing.{HttpResponse, Transport}

/** Shape of one synthetic drive's change history.
  *
  * Window 1 (initial sync) creates items `0 until n`. Window 2 updates
  * `updates` of them, deletes `deletes` others and creates `added` new
  * ones. Then come `idlePolls` windows with no change, then one window
  * tombstoning every id ever created, then idle windows forever. */
final case class DriveShape(seed: Long, n: Int, updates: Int,
    deletes: Int, added: Int, idlePolls: Int) {
  require(updates + deletes <= n)
  /** Items per delta page, as Graph serves them. */
  val pageSize = 1000
  /** Request keys answered one 429 first, per thousand. */
  val throttlePermille = 20
  /** Items whose content answers a permanent 500, per hundred. */
  val failPercent = 1
  /** Blobs of 100-300 KB, several fetch chunks each, per thousand. */
  val bigPerThousand = 5

  private def mix(k: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(k: Long, salt: Long, mod: Int): Int =
    java.lang.Math.floorMod(mix(k, salt), mod.toLong).toInt

  /** A seeded bijection on `0 until n`: position j of window 2's change
    * list touches item perm(j). */
  private val (mulA, addB) = {
    var a = 1 + pick(0, 11, math.max(1, n - 1))
    while (BigInt(a).gcd(BigInt(n)) != 1) a += 1
    (a.toLong, pick(0, 12, math.max(1, n)).toLong)
  }
  def perm(j: Int): Int = ((mulA * j + addB) % n).toInt

  def total: Int = n + added
  def updated(k: Int): Boolean = k < n && invPerm(k) < updates
  def deleted(k: Int): Boolean = k < n && {
    val j = invPerm(k); j >= updates && j < updates + deletes
  }
  private val mulInv = BigInt(mulA).modInverse(BigInt(n)).toLong
  private def invPerm(k: Int): Int =
    java.lang.Math.floorMod((k - addB) * mulInv, n.toLong).toInt

  /** Content GETs of these items fail with a permanent 500. */
  def failing(k: Int): Boolean = pick(k, 21, 100) < failPercent
  /** Failing items that serve content again from window 2 on. */
  def recovers(k: Int): Boolean = failing(k) && pick(k, 22, 2) == 0
  def fetchable(k: Int, phase: Int): Boolean =
    !failing(k) || (phase >= 2 && recovers(k))

  /** Generation of item k's content as of window `phase`. */
  def gen(k: Int, phase: Int): Int = if (phase >= 2 && updated(k)) 2 else 1
  def size(k: Int, g: Int): Int =
    if (pick(k, 31, 1000) < bigPerThousand) 100000 + pick(k * 3L + g, 32, 200000)
    else 256 + pick(k * 3L + g, 33, 3841)
  def content(k: Int, g: Int): Array[Byte] = {
    val b = new Array[Byte](size(k, g))
    new java.util.SplittableRandom(mix(k, 40 + g)).nextBytes(b)
    b
  }
  def modified(k: Int, g: Int): String =
    java.time.Instant.parse(if (g == 1) "2024-03-01T00:00:00Z"
      else "2024-04-01T00:00:00Z").plusSeconds(k.toLong).toString

  /** Windows are numbered from 1 (create) and 2 (update); then come
    * the idle polls, then the mass tombstone. The deltaLink ending
    * window w carries `token=w`. */
  def tombWindow: Int = idlePolls + 3
  /** Items listed by window `w`; idle windows list none. */
  def windowSize(w: Int): Int =
    if (w == 1) n else if (w == 2) updates + deletes + added
    else if (w == tombWindow) total else 0
  /** The i-th entry of window w: (item, isTombstone). */
  def windowItem(w: Int, i: Int): (Int, Boolean) =
    if (w == 1) (i, false)
    else if (w == 2) {
      if (i < updates) (perm(i), false)
      else if (i < updates + deletes) (perm(i), true)
      else (n + i - updates - deletes, false)
    } else (i, true)

  /** Bronze's expected live content after window `phase`
    * (1 = create, 2 = update): id -> (length, crc32). */
  def expectedLive(phase: Int): Map[String, (Long, Long)] =
    (0 until (if (phase == 1) n else total)).iterator
      .filter(k => !(phase >= 2 && deleted(k)) && fetchable(k, phase))
      .map { k =>
        val c = content(k, gen(k, phase))
        val crc = new java.util.zip.CRC32(); crc.update(c)
        s"r$k" -> (c.length.toLong, crc.getValue)
      }.toMap

  /** Ids parked in quarantine after window `phase`. */
  def expectedQuarantine(phase: Int): Set[String] =
    (0 until (if (phase == 1) n else total))
      .filter(k => !(phase >= 2 && deleted(k)) && !fetchable(k, phase))
      .map(k => s"r$k").toSet
}

/** Counts of requests by kind and status, shared by every copy of an
  * endpoint (the transport is serialized into fetch tasks). */
object GraphCounters {
  val counts = new ConcurrentHashMap[String, LongAdder]()
  val bytes = new LongAdder
  def add(key: String): Unit =
    counts.computeIfAbsent(key, _ => new LongAdder).increment()
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.map { case (k, v) => k -> v.sum }.toMap +
      ("bytes" -> bytes.sum)
  }
  /** URLs answered 429 whose retry has not arrived yet. */
  val throttled: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
}

/** A synthetic Microsoft Graph drive: delta pages and item content are
  * generated from the URL, the shape and `phase` (the window the
  * harness is running), so nothing is held in memory. A seeded share of
  * GETs answer a transient 429 with `Retry-After: 0` once; content of
  * [[DriveShape.failing]] items answers a permanent 500. */
final class GraphEndpoint(val base: String, shape: DriveShape,
    @volatile var phase: Int = 1) extends Transport {

  private def item(k: Int, g: Int): String =
    s"""{"id":"r$k","name":"f$k.bin","size":${shape.size(k, g)},""" +
      s""""lastModifiedDateTime":"${shape.modified(k, g)}",""" +
      """"file":{"mimeType":"application/octet-stream"},""" +
      """"parentReference":{"path":"/drives/bench/root:/in"}}"""
  private def tomb(k: Int): String =
    s"""{"id":"r$k","name":"f$k.bin","deleted":{"state":"deleted"}}"""

  /** The link ending window w; the client saves it as its checkpoint.
    * Next and delta links are opaque to the client, so any shape works. */
  def deltaLink(w: Int): String = s"$base/delta?token=$w"
  private def nextLink(w: Int, p: Int): String = s"$base/delta?w=$w&p=$p"

  private def page(w: Int, p: Int): String = {
    val lo = p * shape.pageSize
    val hi = math.min(shape.windowSize(w), lo + shape.pageSize)
    val items = (lo until hi).map { i =>
      val (k, dead) = shape.windowItem(w, i)
      if (dead) tomb(k) else item(k, shape.gen(k, w))
    }.mkString(",")
    val link =
      if (hi < shape.windowSize(w))
        s""""@odata.nextLink":"${nextLink(w, p + 1)}""""
      else s""""@odata.deltaLink":"${deltaLink(w)}""""
    s"""{"value":[$items],$link}"""
  }

  /** 429 once for a seeded share of request keys. */
  private def throttle(key: String): Boolean =
    if (Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key,
        shape.seed.toInt), 1000) >= shape.throttlePermille) false
    else GraphCounters.throttled.add(key) ||
      { GraphCounters.throttled.remove(key); false }

  private def answer(kind: String, r: HttpResponse): HttpResponse = {
    GraphCounters.add(s"$kind.${r.status}")
    GraphCounters.bytes.add(
      if (r.bodyBytes != null) r.bodyBytes.length.toLong
      else if (r.body != null) r.body.length.toLong else 0L)
    r
  }

  private val tooMany = HttpResponse(429, "throttled", Map("Retry-After" -> "0"))

  override def get(url: String): HttpResponse =
    if (url.contains("/items/")) getRange(url, 0, Long.MaxValue - 1)
    else if (throttle(url)) answer("page", tooMany)
    else answer("page", HttpResponse(200, url.stripPrefix(base) match {
      case GraphEndpoint.InitialDelta => page(1, 0)
      case u if u.startsWith("/delta?w=") =>
        val Array(w, p) = u.stripPrefix("/delta?w=").split("&p=")
        page(w.toInt, p.toInt)
      case u if u.startsWith("/delta?token=") =>
        val w = u.stripPrefix("/delta?token=").toInt + 1
        if (w <= shape.tombWindow) page(w, 0)
        else s"""{"value":[],"@odata.deltaLink":"${deltaLink(w)}"}"""
      case u => throw new IllegalArgumentException(s"unexpected $u")
    }))

  override def getRange(url: String, start: Long, endIncl: Long)
      : HttpResponse = {
    val k = url.stripPrefix(s"$base/items/r").stripSuffix("/content").toInt
    if (throttle(s"$url@$start")) answer("content", tooMany)
    else if (!shape.fetchable(k, phase))
      answer("content", HttpResponse(500, "permanent storage fault"))
    else {
      val c = shape.content(k, shape.gen(k, phase))
      if (start >= c.length) answer("content", HttpResponse(416, ""))
      else {
        val end = math.min(endIncl, c.length - 1L).toInt
        answer("content", HttpResponse(206, null,
          Map("Content-Range" -> s"bytes $start-$end/${c.length}"),
          java.util.Arrays.copyOfRange(c, start.toInt, end + 1)))
      }
    }
  }
}

object GraphEndpoint {
  /** Graph's delta resource on the drive root, where an initial sync
    * starts. */
  val InitialDelta = "/root/delta"
}
