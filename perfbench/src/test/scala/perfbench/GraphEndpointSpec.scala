package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.DeltaListingProvider
import graft.pipeline.HttpListing.RetryPolicy
import org.scalatest.funsuite.AnyFunSuite

class GraphEndpointSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val shape = DriveShape(seed = 7, n = 2500, updates = 200,
    deletes = 100, added = 300, idlePolls = 2)

  private def endpoint(name: String) =
    new GraphEndpoint(s"https://graph.test/$name", shape)

  /** GETs `url`, retrying 429s; returns (json, throttled count). */
  private def fetch(e: GraphEndpoint, url: String) = {
    var r = e.get(url)
    var throttled = 0
    while (r.status == 429) {
      assert(r.headers("Retry-After") == "0")
      throttled += 1
      r = e.get(url)
    }
    assert(r.status == 200)
    (mapper.readTree(r.body), throttled)
  }

  test("pages hold 1,000 items and chain nextLink to a final deltaLink") {
    val e = endpoint("paging")
    var url = e.base + GraphEndpoint.InitialDelta
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var delta: String = null
    while (delta == null) {
      val (page, _) = fetch(e, url)
      sizes += page.get("value").size()
      if (page.has("@odata.nextLink")) url = page.get("@odata.nextLink").asText()
      else delta = page.get("@odata.deltaLink").asText()
    }
    assert(sizes == Seq(1000, 1000, 500))
    assert(delta == e.deltaLink(1))
  }

  test("update and tombstone windows carry tombstones; idle windows advance") {
    val e = endpoint("windows")
    val prov = new DeltaListingProvider(e.base, e,
      RetryPolicy(maxRetries = 3, baseDelayMs = 0), sleeper = _ => ())
    def window(from: Option[String]) = {
      val items = scala.collection.mutable.ArrayBuffer
        .empty[graft.pipeline.DeltaListing.DeltaItem]
      val link = prov.syncPages(from)(items ++= _)
      (items.toSeq, link)
    }
    val (w1, l1) = window(None)
    assert(w1.size == 2500 && !w1.exists(_.deleted))
    e.phase = 2
    val (w2, l2) = window(Some(l1))
    assert(w2.count(_.deleted) == 100)
    assert(w2.count(it => !it.deleted && it.id.drop(1).toInt >= 2500) == 300)
    val (idle, l3) = window(Some(l2))
    assert(idle.isEmpty && l3 != l2)
    val (_, l4) = window(Some(l3))
    val (tomb, _) = window(Some(l4))
    assert(tomb.size == shape.total && tomb.forall(_.deleted))
  }

  test("a seeded share of GETs is throttled once, and counted") {
    val e = endpoint("throttle")
    val before = GraphCounters.snapshot()
    val throttled = (0 until 1000).map(k =>
      fetch(e, s"${e.base}/delta?w=1&p=${k % 3}")._2 +
        (if (shape.fetchable(k, 1)) {
          var r = e.getRange(s"${e.base}/items/r$k/content", 0, 1 << 20)
          var t = 0
          while (r.status == 429) { t += 1; r = e.getRange(
            s"${e.base}/items/r$k/content", 0, 1 << 20) }
          assert(r.status == 206)
          t
        } else 0)).sum
    val after = GraphCounters.snapshot()
    def d(k: String) = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
    assert(throttled > 0 && throttled < 120)
    assert(d("page.429") + d("content.429") == throttled)
    assert(d("page.200") == 1000)
  }

  test("failing items answer a permanent 500, about 1% of them") {
    val e = endpoint("fail")
    val failing = (0 until 5000).filter(!shape.fetchable(_, 1))
    assert(failing.size > 20 && failing.size < 80)
    val k = failing.head
    (0 until 3).foreach(_ =>
      assert(e.getRange(s"${e.base}/items/r$k/content", 0, 100).status == 500))
  }

  test("blob slices follow Content-Range and reassemble the content") {
    val e = endpoint("blob")
    val k = (0 until 5000).find(k => shape.fetchable(k, 1) &&
      shape.size(k, 1) > 100000).get
    val want = shape.content(k, 1)
    val out = new java.io.ByteArrayOutputStream()
    val n = graft.pipeline.HttpListing.ChunkedTransfer.fetchTo(e,
      RetryPolicy(maxRetries = 3, baseDelayMs = 0), _ => ())(
      s"${e.base}/items/r$k/content", out, 64 << 10)
    assert(n == want.length && out.toByteArray.sameElements(want))
  }
}
