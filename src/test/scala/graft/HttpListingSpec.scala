package graft

import graft.pipeline.{HttpListing, HttpListingProvider}
import graft.pipeline.HttpListing.{HttpResponse, RetryPolicy, Transport}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Policy tests for the HTTP listing seam — no network (the container
  * has none): a scripted transport returns canned Graph-shaped pages
  * and the specs assert the retry/backoff/pagination behavior the
  * reference lacks (no retry at `sharepoint_to_bronze_delta.py:53,62,
  * 74`; single-page listing at `:74-77`). */
class HttpListingSpec extends AnyFunSuite {

  /** Per-URL response queue: pops until one left, then repeats it. */
  private class FakeTransport(script: (String, Seq[HttpResponse])*)
      extends Transport {
    val calls = mutable.Buffer[String]()
    private val q = mutable.Map(script.map { case (u, rs) =>
      u -> mutable.Queue(rs: _*) }: _*)
    override def get(url: String): HttpResponse = {
      calls += url
      val queue = q.getOrElse(url,
        fail(s"unexpected GET $url; scripted: ${q.keys.mkString(", ")}"))
      if (queue.size > 1) queue.dequeue() else queue.head
    }
  }

  private val sleeps = mutable.Buffer[Long]()
  private def sleeper(ms: Long): Unit = sleeps += ms
  private def fresh(): Unit = sleeps.clear()

  private def page(names: Seq[(String, Boolean, Long)],
      next: Option[String]): HttpResponse = {
    val items = names.map { case (n, isFile, size) =>
      if (isFile) s"""{"name":"$n","size":$size,"file":{"mimeType":"text/plain"}}"""
      else s"""{"name":"$n","folder":{"childCount":1}}"""
    }.mkString(",")
    val nl = next.map(u => s""","@odata.nextLink":"$u"""").getOrElse("")
    HttpResponse(200, s"""{"value":[$items]$nl}""")
  }

  private val base = "https://graph.example.test/drives/d1"
  private def url(folder: String) = s"$base/root:/$folder:/children"

  test("follows @odata.nextLink across pages, in order, mapping facets") {
    fresh()
    val t = new FakeTransport(
      url("Invoices") -> Seq(page(
        Seq(("a.pdf", true, 10L), ("Sub", false, 0L)),
        Some(s"$base/page2"))),
      s"$base/page2" -> Seq(page(
        Seq(("b.pdf", true, 20L)), Some(s"$base/page3"))),
      s"$base/page3" -> Seq(page(Seq(("c.pdf", true, 30L)), None)))
    val out = new HttpListingProvider(base, t, RetryPolicy(), sleeper)
      .list("Invoices")
    assert(out.map(_.name) == Seq("a.pdf", "Sub", "b.pdf", "c.pdf"))
    // folders carry no file facet — null mime and size, like the Graph
    // response the P1 filter consumes downstream
    val sub = out.find(_.name == "Sub").get
    assert(sub.file_mime == null && sub.size == null)
    assert(out.find(_.name == "b.pdf").get.size == 20L)
    assert(t.calls == Seq(url("Invoices"), s"$base/page2", s"$base/page3"))
    assert(sleeps.isEmpty)
  }

  test("429 honors Retry-After, then succeeds") {
    fresh()
    val t = new FakeTransport(url("F") -> Seq(
      HttpResponse(429, "", Map("Retry-After" -> "7")),
      page(Seq(("x.txt", true, 1L)), None)))
    val out = new HttpListingProvider(base, t, RetryPolicy(), sleeper).list("F")
    assert(out.map(_.name) == Seq("x.txt"))
    assert(sleeps.toSeq == Seq(7000L))
    assert(t.calls.size == 2)
  }

  test("a negative Retry-After falls back to the backoff; a huge one saturates at the cap") {
    fresh()
    val t = new FakeTransport(url("F") -> Seq(
      HttpResponse(429, "", Map("Retry-After" -> "-1")),
      HttpResponse(429, "", Map("Retry-After" -> "9223372036854775807")),
      HttpResponse(429, "", Map("Retry-After" -> "7")),
      page(Seq(("x.txt", true, 1L)), None)))
    val out = new HttpListingProvider(base, t, RetryPolicy(), sleeper).list("F")
    assert(out.map(_.name) == Seq("x.txt"))
    // -1 → base·2⁰, Long.MaxValue seconds → maxDelayMs, 7 s → 7000 ms;
    // a negative sleep would throw from Thread.sleep in production
    assert(sleeps.toSeq == Seq(500L, 30000L, 7000L))
    val p = RetryPolicy()
    assert(p.delayMs(3, Some(-1L)) == 4000L)
    assert(p.delayMs(0, Some(Long.MaxValue / 1000 + 1)) == 30000L)
    assert(p.delayMs(0, Some(30L)) == 30000L && p.delayMs(0, Some(31L)) == 30000L)
  }

  test("5xx backs off exponentially with a cap") {
    fresh()
    val policy = RetryPolicy(maxRetries = 5, baseDelayMs = 500,
      maxDelayMs = 1200)
    val t = new FakeTransport(url("F") -> Seq(
      HttpResponse(503, ""), HttpResponse(503, ""), HttpResponse(503, ""),
      HttpResponse(500, ""),
      page(Seq(("x.txt", true, 1L)), None)))
    val out = new HttpListingProvider(base, t, policy, sleeper).list("F")
    assert(out.map(_.name) == Seq("x.txt"))
    // 500·2⁰, 500·2¹, then capped at 1200
    assert(sleeps.toSeq == Seq(500L, 1000L, 1200L, 1200L))
  }

  test("retries exhausted -> loud failure, not silent truncation") {
    fresh()
    val policy = RetryPolicy(maxRetries = 2, baseDelayMs = 1)
    val t = new FakeTransport(url("F") -> Seq(HttpResponse(503, "")))
    val e = intercept[RuntimeException] {
      new HttpListingProvider(base, t, policy, sleeper).list("F")
    }
    assert(e.getMessage.contains("after 2 retries"))
    assert(t.calls.size == 3) // initial + 2 retries
  }

  test("non-retryable 4xx fails fast (C5) with no retry") {
    fresh()
    val t = new FakeTransport(url("F") -> Seq(HttpResponse(404, "")))
    val e = intercept[RuntimeException] {
      new HttpListingProvider(base, t, RetryPolicy(), sleeper).list("F")
    }
    assert(e.getMessage.contains("404"))
    assert(t.calls.size == 1 && sleeps.isEmpty)
  }

  test("real HttpURLConnection transport: auth header, pagination, retry, error body — loopback server") {
    fresh()
    import java.util.concurrent.atomic.AtomicInteger
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort        // bound at create()
    val srvBase = s"http://127.0.0.1:$port/drives/d1"
    val auths = mutable.Buffer[String]()
    val p2Hits = new AtomicInteger
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      auths.synchronized {
        auths += ex.getRequestHeaders.getFirst("Authorization") }
      def send(status: Int, body: String, hdrs: (String, String)*): Unit = {
        hdrs.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      }
      ex.getRequestURI.getPath match {
        case "/drives/d1/root:/Invoices:/children" =>
          send(200, s"""{"value":[
            {"name":"a.csv","size":6,"file":{"mimeType":"text/csv"}},
            {"name":"Sub","folder":{"childCount":0}}],
            "@odata.nextLink":"$srvBase/p2"}""")
        case "/drives/d1/p2" if p2Hits.incrementAndGet() == 1 =>
          // transient throttle: policy must retry THROUGH the socket
          send(429, """{"error":{"code":"tooManyRequests"}}""",
            "Retry-After" -> "0")
        case "/drives/d1/p2" =>
          send(200,
            """{"value":[{"name":"b.csv","size":7,"file":{"mimeType":"text/csv"}}]}""")
        case "/missing" => send(404, """{"error":"nope"}""")
        case _          => send(500, "")
      }
    })
    server.start()
    try {
      val transport = new HttpListing.HttpUrlConnectionTransport(
        HttpListing.CredentialProvider.Static("tok-123"))
      val out = new HttpListingProvider(srvBase, transport,
        RetryPolicy(baseDelayMs = 1), sleeper).list("Invoices")
      // both pages arrived, facets mapped, the 429 was retried once
      assert(out.map(_.name) == Seq("a.csv", "Sub", "b.csv"))
      assert(out.find(_.name == "Sub").get.file_mime == null)
      assert(sleeps.toSeq == Seq(0L)) // Retry-After: 0 honored
      assert(p2Hits.get() == 2)
      assert(auths.nonEmpty && auths.forall(_ == "Bearer tok-123"))
      // error bodies surface from the error stream (fail-fast path)
      val nf = transport.get(s"http://127.0.0.1:$port/missing")
      assert(nf.status == 404 && nf.body.contains("nope"))
      // anonymous provider sends NO Authorization header
      auths.clear()
      new HttpListing.HttpUrlConnectionTransport().get(s"$srvBase/p2")
      assert(auths == Seq(null))
    } finally server.stop(0)
  }

  // ---- OAuth2 client-credentials provider (S2, reference
  //      sharepoint_to_bronze_delta.py:17-33) ----

  /** WriteTransport fake: GETs per-URL scripted like FakeTransport;
    * POSTs pop a queue per URL, recording bodies. */
  private class FakeWriteTransport(
      getScript: Map[String, Seq[HttpResponse]],
      postScript: Map[String, Seq[HttpResponse]])
      extends HttpListing.WriteTransport {
    val gets = mutable.Buffer[String]()
    val posts = mutable.Buffer[(String, String, String)]()
    val deletes = mutable.Buffer[String]()
    // like the production transport, consult the credential provider
    // once per request (recorded, so the 401 test can assert the
    // re-send really carried a FRESH token)
    var creds: HttpListing.CredentialProvider = null
    val auths = mutable.Buffer[String]()
    private val gq = mutable.Map(getScript.map { case (u, rs) =>
      u -> mutable.Queue(rs: _*) }.toSeq: _*)
    private val pq = mutable.Map(postScript.map { case (u, rs) =>
      u -> mutable.Queue(rs: _*) }.toSeq: _*)
    private def pop(q: mutable.Queue[HttpResponse]): HttpResponse =
      if (q.size > 1) q.dequeue() else q.head
    override def get(url: String): HttpResponse = {
      gets += url
      if (creds != null) auths += creds.token()
      pop(gq.getOrElse(url, fail(s"unexpected GET $url")))
    }
    override def post(url: String, body: String,
        contentType: String): HttpResponse = {
      posts += ((url, body, contentType))
      pop(pq.getOrElse(url, fail(s"unexpected POST $url")))
    }
    override def delete(url: String): HttpResponse = {
      deletes += url
      HttpResponse(204, "")
    }
  }

  private val tokUrl = "https://login.example.test/t1/oauth2/v2.0/token"
  private def tokenResp(tok: String, ttlSec: Long): HttpResponse =
    HttpResponse(200,
      s"""{"token_type":"Bearer","expires_in":$ttlSec,"access_token":"$tok"}""")

  test("OAuth2: one form POST, cached until expiry, refresh after") {
    var now = 1000000L
    val t = new FakeWriteTransport(Map.empty, Map(
      tokUrl -> Seq(tokenResp("tok-A", 3600), tokenResp("tok-B", 3600))))
    val creds = new HttpListing.OAuth2ClientCredentials(
      t, tokUrl, "client-1", "s3cr&t=chars", clock = () => now)
    assert(creds.token() == "tok-A")
    assert(creds.token() == "tok-A") // cached — no second POST
    assert(t.posts.size == 1)
    val (u, body, ct) = t.posts.head
    assert(u == tokUrl && ct == "application/x-www-form-urlencoded")
    assert(body.contains("grant_type=client_credentials"))
    assert(body.contains("client_id=client-1"))
    // reserved chars in the secret are form-encoded, not spliced raw
    assert(body.contains("client_secret=s3cr%26t%3Dchars"))
    assert(body.contains(
      "scope=https%3A%2F%2Fgraph.microsoft.com%2F.default"))
    // advance past expires_in minus skew: the next token() re-acquires
    now += (3600 - 30) * 1000L
    assert(creds.token() == "tok-B")
    assert(t.posts.size == 2)
  }

  test("OAuth2: string or garbage expires_in never yields a 0-TTL cache") {
    var now = 1000000L
    // AAD returns expires_in as a STRING on some endpoints; numeric
    // text must parse, non-numeric must fall back to the 1h default —
    // neither may produce TTL 0 (= silent re-POST per call)
    val t = new FakeWriteTransport(Map.empty, Map(tokUrl -> Seq(
      HttpResponse(200,
        """{"token_type":"Bearer","expires_in":"3599","access_token":"tok-S"}"""),
      HttpResponse(200,
        """{"token_type":"Bearer","expires_in":"soon","access_token":"tok-G"}"""),
      tokenResp("tok-X", 3600))))
    val creds = new HttpListing.OAuth2ClientCredentials(
      t, tokUrl, "c", "s", clock = () => now)
    assert(creds.token() == "tok-S")
    assert(creds.token() == "tok-S") // cached — string TTL parsed, not 0
    assert(t.posts.size == 1)
    now += 3600L * 1000 // past the parsed 3599s TTL
    assert(creds.token() == "tok-G")
    assert(creds.token() == "tok-G") // garbage TTL → 1h default, cached
    assert(t.posts.size == 2)
    now += (3600L - 30) * 1000 // past the default TTL minus skew
    assert(creds.token() == "tok-X")
    assert(t.posts.size == 3)
  }

  test("OAuth2: non-200 token response fails fast (C5), nothing cached") {
    val t = new FakeWriteTransport(Map.empty, Map(
      tokUrl -> Seq(HttpResponse(400,
        """{"error":"invalid_client"}"""), tokenResp("tok-A", 3600))))
    val creds = new HttpListing.OAuth2ClientCredentials(
      t, tokUrl, "c", "s")
    val e = intercept[RuntimeException](creds.token())
    assert(e.getMessage.contains("400"))
    // failure cached nothing: the next call re-POSTs and succeeds
    assert(creds.token() == "tok-A")
    assert(t.posts.size == 2)
  }

  test("401 refreshes the token ONCE and re-sends; repeat 401 fails fast") {
    fresh()
    val listUrl = url("F")
    val t = new FakeWriteTransport(
      Map(listUrl -> Seq(
        HttpResponse(401, """{"error":{"code":"InvalidAuthenticationToken"}}"""),
        page(Seq(("a.txt", true, 1L)), None))),
      Map(tokUrl -> Seq(tokenResp("tok-A", 3600), tokenResp("tok-B", 3600))))
    val creds = new HttpListing.OAuth2ClientCredentials(t, tokUrl, "c", "s")
    t.creds = creds // per-request token() like the production transport
    creds.token() // warm the cache so the 401 models an EXPIRED token
    val authed = new HttpListing.AuthRefreshTransport(t, creds)
    val out = new HttpListingProvider(base, authed,
      RetryPolicy(), sleeper).list("F")
    assert(out.map(_.name) == Seq("a.txt"))
    assert(t.gets == Seq(listUrl, listUrl)) // one re-send, not a loop
    assert(t.posts.size == 2) // initial acquire + the 401-triggered refresh
    assert(t.auths.toSeq == Seq("tok-A", "tok-B")) // re-send used the FRESH token
    assert(sleeps.isEmpty) // auth recovery never backs off

    // persistent 401 (revoked app, not a stale token): one refresh
    // attempt, then the 401 surfaces and the retry policy fails fast
    val t2 = new FakeWriteTransport(
      Map(listUrl -> Seq(HttpResponse(401, ""))),
      Map(tokUrl -> Seq(tokenResp("tok-A", 3600))))
    val creds2 = new HttpListing.OAuth2ClientCredentials(t2, tokUrl, "c", "s")
    val e = intercept[RuntimeException] {
      new HttpListingProvider(base,
        new HttpListing.AuthRefreshTransport(t2, creds2),
        RetryPolicy(), sleeper).list("F")
    }
    assert(e.getMessage.contains("401"))
    assert(t2.gets.size == 2 && sleeps.isEmpty)
  }

  test("graphTransport over a loopback server: token POST → authorized GET → 401 → refresh → re-send") {
    fresh()
    import java.util.concurrent.atomic.AtomicInteger
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    val srvBase = s"http://127.0.0.1:$port/drives/d1"
    val tokenHits = new AtomicInteger
    val listAuths = mutable.Buffer[String]()
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      def send(status: Int, body: String): Unit = {
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      }
      ex.getRequestURI.getPath match {
        case "/token" =>
          val form = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          assert(form.contains("grant_type=client_credentials"))
          val n = tokenHits.incrementAndGet()
          send(200, s"""{"token_type":"Bearer","expires_in":3600,"access_token":"tok-$n"}""")
        case "/drives/d1/root:/F:/children" =>
          val auth = ex.getRequestHeaders.getFirst("Authorization")
          listAuths.synchronized { listAuths += auth }
          // the FIRST token is treated as expired server-side: 401
          // forces the stack to refresh and re-send
          if (auth == "Bearer tok-1")
            send(401, """{"error":{"code":"InvalidAuthenticationToken"}}""")
          else send(200,
            """{"value":[{"name":"x.csv","size":1,"file":{"mimeType":"text/csv"}}]}""")
        case _ => send(500, "")
      }
    })
    server.start()
    try {
      val transport = HttpListing.graphTransport(
        s"http://127.0.0.1:$port/token", "client-1", "s3cret")
      val out = new HttpListingProvider(srvBase, transport,
        RetryPolicy(baseDelayMs = 1), sleeper).list("F")
      assert(out.map(_.name) == Seq("x.csv"))
      // one acquire + one 401-triggered refresh, two list attempts
      // carrying tok-1 then tok-2, no backoff in the recovery path
      assert(tokenHits.get() == 2)
      assert(listAuths.toSeq == Seq("Bearer tok-1", "Bearer tok-2"))
      assert(sleeps.isEmpty)
    } finally server.stop(0)
  }

  test("a retry mid-pagination retries only the failing page") {
    fresh()
    val t = new FakeTransport(
      url("F") -> Seq(page(Seq(("a", true, 1L)), Some(s"$base/p2"))),
      s"$base/p2" -> Seq(HttpResponse(502, ""),
        page(Seq(("b", true, 2L)), None)))
    val out = new HttpListingProvider(base, t, RetryPolicy(baseDelayMs = 9),
      sleeper).list("F")
    assert(out.map(_.name) == Seq("a", "b"))
    assert(t.calls == Seq(url("F"), s"$base/p2", s"$base/p2"))
    assert(sleeps.toSeq == Seq(9L))
  }

  test("ThrottleBudget: N concurrent partitions never exceed the configured rate") {
    import HttpListing.ThrottleBudget
    // fake clock advanced only by the fake sleeper — deterministic,
    // no real sleeping; the admission-ladder invariant (consecutive
    // grants ≥ 1/rate apart) is what keeps real partitions under the
    // endpoint's budget
    val clockNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val budget = new ThrottleBudget(permitsPerSec = 10,
      clock = () => clockNs.get(),
      sleeper = ms => { clockNs.addAndGet(ms * 1000000L); () })
    val grants = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val threads = (1 to 8).map(_ => new Thread(() =>
      (1 to 5).foreach(_ => grants.add(budget.acquire()))))
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val ts = grants.asScala.map(_.longValue()).toSeq.sorted
    assert(ts.size == 40)
    // no 1-second window admits more than 10 requests: the i-th and
    // (i+10)-th admissions are ≥ 1 s apart
    ts.indices.dropRight(10).foreach { i =>
      assert(ts(i + 10) - ts(i) >= 1000000000L,
        s"grants $i..${i + 10} packed into <1s: ${ts(i)}..${ts(i + 10)}")
    }
    // and admissions are strictly spaced — never two in one interval
    ts.sliding(2).foreach { case Seq(a, b) =>
      assert(b - a >= 100000000L, s"grants $a and $b closer than 1/rate")
    }
  }

  test("ChunkedTransfer: a 17 MiB blob streams in 1 MiB ranges — bounded slices, exact bytes") {
    val chunk = 1 << 20
    val size = 17L * chunk + 13
    def byteAt(i: Long): Byte = ((i * 31 + (i >> 8) * 17 + 7) & 0xff).toByte
    val ranges = mutable.Buffer[(Long, Long)]()
    val t = new Transport {
      override def get(url: String): HttpResponse =
        fail("chunked path must go through getRange")
      override def getRange(url: String, start: Long,
          endIncl: Long): HttpResponse = {
        ranges += ((start, endIncl))
        if (start >= size) HttpResponse(416, "")
        else {
          val e = math.min(endIncl, size - 1)
          val slice =
            Array.tabulate((e - start + 1).toInt)(k => byteAt(start + k))
          HttpResponse(206, "",
            Map("Content-Range" -> s"bytes $start-$e/$size"),
            bodyBytes = slice)
        }
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    val n = HttpListing.ChunkedTransfer.fetchTo(t, RetryPolicy(),
      _ => ())("u", out, chunk)
    assert(n == size)
    val got = out.toByteArray
    val expected = Array.tabulate(size.toInt)(k => byteAt(k.toLong))
    assert(java.util.Arrays.equals(got, expected),
      "reassembled bytes differ from the source")
    // exactly ceil(size/chunk) requests, every served slice ≤ chunk —
    // the per-task allocation bound the streamed path exists for
    assert(ranges.size == 18, s"expected 18 range GETs, saw ${ranges.size}")
    assert(ranges.forall { case (s, e) => e - s + 1 <= chunk })
  }

  test("ChunkedTransfer: a mid-blob 429 refetches only its chunk; Range-ignoring servers degrade to one GET") {
    // 429 on the second chunk, then success
    val chunk = 4
    val payload = "ABCDEFGHIJ".getBytes
    var hit429 = false
    val calls = mutable.Buffer[(Long, Long)]()
    val flaky = new Transport {
      override def get(url: String): HttpResponse = fail("range path")
      override def getRange(url: String, start: Long,
          endIncl: Long): HttpResponse = {
        calls += ((start, endIncl))
        if (start == 4 && !hit429) { hit429 = true; HttpResponse(429, "") }
        else {
          val e = math.min(endIncl, payload.length - 1L)
          HttpResponse(206, "",
            Map("Content-Range" -> s"bytes $start-$e/${payload.length}"),
            bodyBytes = java.util.Arrays.copyOfRange(
              payload, start.toInt, e.toInt + 1))
        }
      }
    }
    fresh()
    val out = new java.io.ByteArrayOutputStream()
    HttpListing.ChunkedTransfer.fetchTo(flaky,
      RetryPolicy(baseDelayMs = 7), sleeper)("u", out, chunk)
    assert(out.toByteArray.sameElements(payload))
    assert(sleeps.toSeq == Seq(7L)) // one backoff, for the one 429
    assert(calls.count(_._1 == 0) == 1, "chunk 0 must not refetch")
    assert(calls.count(_._1 == 4) == 2, "only chunk 1 retries")

    // a transport with no real Range support (the Transport default:
    // plain GET) serves the whole body once — old single-fetch shape
    val whole = new Transport {
      override def get(url: String): HttpResponse =
        HttpResponse(200, "", bodyBytes = payload)
    }
    val out2 = new java.io.ByteArrayOutputStream()
    val n2 = HttpListing.ChunkedTransfer.fetchTo(whole, RetryPolicy(),
      _ => ())("u", out2, chunk)
    assert(n2 == payload.length && out2.toByteArray.sameElements(payload))
  }

  test("ChunkedTransfer: a mid-stream 200 fails loudly; shared budgets are one object per name") {
    // a server that answers 206 for chunk 0 then forgets Range
    // support would silently RESTART the payload if the 200 path
    // accepted it mid-transfer — the require must trip instead
    val payload = "ABCDEFGHIJ".getBytes
    val t = new Transport {
      override def get(url: String): HttpResponse = fail("range path")
      override def getRange(url: String, start: Long,
          endIncl: Long): HttpResponse =
        if (start == 0)
          HttpResponse(206, "",
            Map("Content-Range" -> s"bytes 0-3/${payload.length}"),
            bodyBytes = java.util.Arrays.copyOfRange(payload, 0, 4))
        else HttpResponse(200, "", bodyBytes = payload)
    }
    val out = new java.io.ByteArrayOutputStream()
    val e = intercept[IllegalArgumentException] {
      HttpListing.ChunkedTransfer.fetchTo(t, RetryPolicy(), _ => ())(
        "u", out, 4)
    }
    assert(e.getMessage.contains("ignored Range mid-transfer"))

    // the registry hands every caller of a name the SAME bucket —
    // that identity IS the cross-partition guarantee
    import HttpListing.ThrottleBudget
    val a = ThrottleBudget.shared("spec-bucket", 5)
    val b = ThrottleBudget.shared("spec-bucket", 500)
    assert(a eq b, "same name must resolve to one shared bucket")
  }

  test("RateLimitedTransport: every verb spends a permit; refresh re-sends pay too") {
    import HttpListing.{RateLimitedTransport, ThrottleBudget, WriteTransport}
    val clockNs = new java.util.concurrent.atomic.AtomicLong(0L)
    var permits = 0
    val budget = new ThrottleBudget(1000,
      clock = () => { permits += 1; clockNs.get() },
      sleeper = ms => { clockNs.addAndGet(ms * 1000000L); () })
    val inner = new WriteTransport {
      override def get(url: String) = HttpResponse(200, "{}")
      override def post(url: String, body: String, contentType: String) =
        HttpResponse(200, "{}")
      override def delete(url: String) = HttpResponse(204, "")
    }
    val limited = new RateLimitedTransport(inner, budget)
    limited.get("u"); limited.post("u", "{}", "application/json")
    limited.delete("u")
    assert(permits == 3, s"expected one permit per verb, saw $permits")
  }
}
