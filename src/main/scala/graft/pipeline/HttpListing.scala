package graft.pipeline

import graft.pipeline.TransferPipeline.{Listed, ListingProvider}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** HTTP-backed [[TransferPipeline.ListingProvider]]: the production
  * seam for the reference's Graph folder listing
  * (`sharepoint_to_bronze_delta.py:72-77` — GET
  * `/drives/{id}/root:/{folder}:/children`), with the two reliability
  * gaps BASELINE.md calls out in the reference FIXED here:
  *
  *  - **retry/backoff**: the reference performs every Graph call with
  *    no retry (`:53,62,74`) — one 429 or transient 5xx kills the run.
  *    [[RetryPolicy]] retries 429/5xx with capped exponential backoff
  *    and honors `Retry-After`; other 4xx fail fast (C5 semantics).
  *  - **pagination**: the reference reads a single page and silently
  *    truncates (`:74-77` never follows `@odata.nextLink` — SURVEY §2
  *    S5 note). This provider walks `@odata.nextLink` to exhaustion,
  *    like the DSv2 source's reader-owned pagination
  *    ([[graft.sources.GraphCatalogSource]]).
  *
  * The transport is injected so the policy is fully unit-testable
  * offline (HttpListingSpec drives it with a scripted fake; the
  * container has no egress). A production transport is a thin
  * `java.net.HttpURLConnection` adapter plus an Authorization header
  * from the credential provider (S2 stays a connector concern).
  */
object HttpListing {

  /** Minimal response surface the policy needs. `bodyBytes` is the
    * transport's RAW payload when it captured one — the `:/content`
    * download of an xlsx/pdf is not UTF-8 text, and round-tripping it
    * through `body`'s String would corrupt it. Scripted test
    * transports that only ever serve JSON/text may leave it null;
    * [[bytes]] falls back to re-encoding `body`. */
  final case class HttpResponse(status: Int, body: String,
      headers: Map[String, String] = Map.empty,
      bodyBytes: Array[Byte] = null) {
    /** Exact payload bytes: the raw capture when present, else the
      * UTF-8 encoding of `body` (lossless for text responses). */
    def bytes: Array[Byte] =
      if (bodyBytes != null) bodyBytes
      else body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** One GET. Implementations: real HTTP in production
    * ([[HttpUrlConnectionTransport]]), a scripted fake in tests. */
  trait Transport extends Serializable {
    def get(url: String): HttpResponse

    /** GET `url` limited to bytes [start, endIncl] (inclusive, the
      * HTTP Range convention) — the seam [[ChunkedTransfer]] streams
      * large blobs through. Servers answer 206 with the slice (and a
      * `Content-Range: bytes s-e/total`), or 200 with the WHOLE body
      * when they ignore Range. The DEFAULT here is exactly that
      * ignoring server (one plain GET, whole body), so scripted test
      * transports and wrappers stay source-compatible and chunked
      * callers degrade to the old single-fetch behavior; the real
      * HTTP transport overrides with a Range header. */
    def getRange(url: String, start: Long, endIncl: Long): HttpResponse =
      get(url)
  }

  /** Write-side verbs — the reference's folder-ensure POST, `:/copy`
    * POST and item DELETE (`sharepoint_to_bronze_delta.py:80-109`)
    * plus the OAuth2 token POST (`:17-33`) need exactly these two on
    * top of GET. Kept as a separate trait so read-only consumers keep
    * the minimal surface. */
  trait WriteTransport extends Transport {
    def post(url: String, body: String,
        contentType: String = "application/json"): HttpResponse
    def delete(url: String): HttpResponse
  }

  /** Bearer-token source for the transport — the S2 seam
    * (`sharepoint_to_bronze_delta.py:40-49` acquires one via MSAL;
    * here the acquisition stays a connector concern and the engine
    * only ever sees an opaque supplier, so rotation/refresh is the
    * provider's business, called once per request). */
  trait CredentialProvider extends Serializable {
    /** Current bearer token, or null/empty for anonymous. */
    def token(): String
    /** Drop any cached token so the next [[token]] re-acquires —
      * the 401 recovery hook ([[AuthRefreshTransport]]). No-op for
      * providers with nothing cached. */
    def invalidate(): Unit = ()
  }
  object CredentialProvider {
    /** Fixed token (tests, pre-acquired credentials). */
    final case class Static(value: String) extends CredentialProvider {
      override def token(): String = value
    }
    /** No Authorization header at all. */
    case object Anonymous extends CredentialProvider {
      override def token(): String = null
    }
  }

  /** OAuth2 client-credentials token provider — the engine-side twin
    * of the reference's `AzureAuthenticator`
    * (`sharepoint_to_bronze_delta.py:17-33`: MSAL
    * `ConfidentialClientApplication.acquire_token_for_client`, which
    * performs exactly this form POST and caches the result). The grant
    * is one POST to the tenant token endpoint with
    * `grant_type=client_credentials`; the response's `access_token` is
    * cached until `expires_in` minus a skew window, so steady-state
    * requests pay zero token calls and a refresh happens at most once
    * per expiry (double-checked under the lock — concurrent executors
    * can't stampede the endpoint). A non-200 token response fails
    * fast (C5: auth errors are RuntimeErrors in the reference `:33`).
    * The POST rides the same injectable [[WriteTransport]] as every
    * other call, so the whole flow is scripted in HttpListingSpec. */
  final class OAuth2ClientCredentials(
      transport: WriteTransport,
      tokenUrl: String,
      clientId: String,
      clientSecret: String,
      scope: String = "https://graph.microsoft.com/.default",
      clock: () => Long = () => System.currentTimeMillis(),
      skewMs: Long = 60000) extends CredentialProvider {

    @volatile private var cached: (String, Long) = null // (token, expiresAt)

    override def token(): String = {
      val c = cached
      if (c != null && clock() < c._2) c._1 else acquire()
    }

    override def invalidate(): Unit = synchronized { cached = null }

    private def enc(s: String): String =
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)

    private def acquire(): String = synchronized {
      val c = cached
      if (c != null && clock() < c._2) return c._1 // raced: already fresh
      val form = s"grant_type=client_credentials&client_id=${enc(clientId)}" +
        s"&client_secret=${enc(clientSecret)}&scope=${enc(scope)}"
      val resp = transport.post(tokenUrl, form,
        "application/x-www-form-urlencoded")
      if (resp.status != 200)
        throw new RuntimeException(
          s"Failed to acquire access token: ${resp.status} ${resp.body.take(200)}")
      val root = new ObjectMapper().readTree(resp.body)
      val tok = Option(root.get("access_token")).map(_.asText())
        .filter(_.nonEmpty)
        .getOrElse(throw new RuntimeException(
          s"token response carries no access_token: ${resp.body.take(200)}"))
      // AAD is known to return expires_in as a STRING on some
      // endpoints; asLong() parses numeric text and returns 0 for
      // anything unparseable — a 0 TTL would silently re-POST the
      // token endpoint on every call, so treat a non-positive parse
      // like an absent field (1-hour default) instead
      val ttlMs = Option(root.get("expires_in")).map(_.asLong())
        .filter(_ > 0).map(_ * 1000)
        .getOrElse(3600L * 1000)
      cached = (tok, clock() + math.max(ttlMs - skewMs, 0))
      tok
    }
  }

  /** The production Graph stack in one call — the wiring the
    * reference assembles across `AzureAuthenticator` +
    * `SharePointService._headers` (`sharepoint_to_bronze_delta.py:
    * 17-49`): an anonymous transport carries the token POST, the
    * credential cache sits between, and API calls ride an authorized
    * transport with 401 → refresh → single-re-send recovery. The
    * result plugs directly into [[HttpListingProvider]] and
    * [[graft.archive.Archive.HttpFileOps]]. */
  def graphTransport(tokenUrl: String, clientId: String,
      clientSecret: String,
      scope: String = "https://graph.microsoft.com/.default",
      permitsPerSec: Double = 0)
      : WriteTransport = {
    val creds = new OAuth2ClientCredentials(
      new HttpUrlConnectionTransport(), tokenUrl, clientId, clientSecret,
      scope)
    // throttle below the 401-refresh wrapper so a refresh re-send
    // spends a permit like any other request; permitsPerSec ≤ 0 =
    // unthrottled (tests, single-threaded tools)
    val api: WriteTransport =
      if (permitsPerSec > 0)
        new RateLimitedTransport(new HttpUrlConnectionTransport(creds),
          ThrottleBudget.shared("graph-api", permitsPerSec))
      else new HttpUrlConnectionTransport(creds)
    new AuthRefreshTransport(api, creds)
  }

  /** 401 → invalidate → single retry, on any verb: an expired or
    * revoked bearer gets ONE fresh-token re-send; a second 401 (bad
    * credentials, not a stale token) surfaces to the caller, where
    * [[getWithRetry]] fails fast (401 is not retryable). Wraps the
    * transport rather than the retry loop so the same recovery applies
    * to the write-side file ops. */
  final class AuthRefreshTransport(inner: WriteTransport,
      creds: CredentialProvider) extends WriteTransport {
    private def refreshing(r: => HttpResponse): HttpResponse = {
      val first = r
      if (first.status != 401) first
      else { creds.invalidate(); r }
    }
    override def get(url: String): HttpResponse =
      refreshing(inner.get(url))
    override def getRange(url: String, start: Long,
        endIncl: Long): HttpResponse =
      refreshing(inner.getRange(url, start, endIncl))
    override def post(url: String, body: String,
        contentType: String): HttpResponse =
      refreshing(inner.post(url, body, contentType))
    override def delete(url: String): HttpResponse =
      refreshing(inner.delete(url))
  }

  /** The production transport: one plain-JDK `HttpURLConnection` GET
    * per call — the socket-level twin of the reference's
    * `requests.get(url, headers=headers_graph)`
    * (`sharepoint_to_bronze_delta.py:72-77`, `:163-171`) with the
    * status/body/headers surfaced instead of swallowed, so
    * [[getWithRetry]]'s policy (429/5xx backoff honoring Retry-After,
    * 4xx fail-fast) applies to real traffic exactly as to the tested
    * fakes. Error bodies are read from the error stream — Graph puts
    * the diagnostic JSON there. Exercised end-to-end in
    * HttpListingSpec against a loopback `com.sun.net.httpserver`. */
  final class HttpUrlConnectionTransport(
      creds: CredentialProvider = CredentialProvider.Anonymous,
      connectTimeoutMs: Int = 15000,
      readTimeoutMs: Int = 60000)
      extends WriteTransport {

    private def send(method: String, url: String,
        body: Option[(String, String)],
        extraHeaders: Map[String, String] = Map.empty): HttpResponse = {
      val conn = java.net.URI.create(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        conn.setRequestMethod(method)
        conn.setConnectTimeout(connectTimeoutMs)
        conn.setReadTimeout(readTimeoutMs)
        conn.setRequestProperty("Accept", "application/json")
        extraHeaders.foreach { case (k, v) =>
          conn.setRequestProperty(k, v) }
        val tok = creds.token()
        if (tok != null && tok.nonEmpty)
          conn.setRequestProperty("Authorization", s"Bearer $tok")
        body.foreach { case (payload, contentType) =>
          conn.setRequestProperty("Content-Type", contentType)
          conn.setDoOutput(true)
          val os = conn.getOutputStream
          try os.write(payload.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally os.close()
        }
        val status = conn.getResponseCode
        val is = if (status >= 400) conn.getErrorStream
                 else conn.getInputStream
        // capture raw bytes ONCE; `body` is the UTF-8 view (JSON
        // responses), `bodyBytes` the exact payload (binary content
        // downloads) — both surfaces from one read
        val raw =
          if (is == null) Array.emptyByteArray
          else try is.readAllBytes() finally is.close()
        val respBody =
          new String(raw, java.nio.charset.StandardCharsets.UTF_8)
        val headers = {
          import scala.jdk.CollectionConverters._
          conn.getHeaderFields.asScala.collect {
            case (k, vs) if k != null && !vs.isEmpty => k -> vs.get(0)
          }.toMap
        }
        HttpResponse(status, respBody, headers, bodyBytes = raw)
      } finally conn.disconnect()
    }

    override def get(url: String): HttpResponse = send("GET", url, None)
    override def getRange(url: String, start: Long,
        endIncl: Long): HttpResponse =
      send("GET", url, None,
        Map("Range" -> s"bytes=$start-$endIncl"))
    override def post(url: String, body: String,
        contentType: String): HttpResponse =
      send("POST", url, Some((body, contentType)))
    override def delete(url: String): HttpResponse =
      send("DELETE", url, None)
  }

  /** Streamed large-blob transfer: fetch a resource in
    * `chunkBytes`-sized RANGE requests and hand each slice to `sink`
    * as it arrives — per-task heap stays O(chunkBytes) however large
    * the blob. This closes the whole-payload envelope SURVEY §4 flags
    * in the reference (`sharepoint_to_bronze_delta.py:163-171`
    * buffers each download entirely — in DRIVER memory there; our
    * executor-side single-GET path was better placed but still
    * materialized multi-GB bodies per task).
    *
    * Protocol: 206 responses advance by the returned slice; the total
    * comes from `Content-Range: bytes s-e/total`. A 200 means the
    * server ignored Range (tiny files, non-compliant servers) — the
    * whole body is the transfer. Each chunk GET is an idempotent read
    * and rides the full [[RetryPolicy]]; a mid-blob retry refetches
    * only its chunk. */
  object ChunkedTransfer {

    private def contentRangeTotal(resp: HttpResponse): Option[Long] =
      resp.headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase("Content-Range") => v
      }.flatMap { v =>
        // "bytes s-e/total" (total may be "*" on exotic servers)
        v.split('/') match {
          case Array(_, t) => scala.util.Try(t.trim.toLong).toOption
          case _ => None
        }
      }

    /** Fetch `url` into `sink` chunk by chunk; returns total bytes
      * written. Retries per-chunk via the policy; fails loudly on a
      * non-2xx terminal status (C5/C6 semantics). */
    def fetchTo(transport: Transport, policy: RetryPolicy,
        sleeper: Long => Unit)(url: String,
        sink: java.io.OutputStream,
        chunkBytes: Int = 8 << 20): Long = {
      require(chunkBytes > 0, s"chunkBytes must be positive: $chunkBytes")
      var off = 0L
      var total = -1L // unknown until the first Content-Range
      var done = false
      while (!done) {
        val end = off + chunkBytes - 1
        val resp = withRetry(policy, sleeper)(
          transport.getRange(url, off, end))
        resp.status match {
          case 206 =>
            val slice = resp.bytes
            require(slice.length <= chunkBytes,
              s"server returned ${slice.length} bytes for a " +
                s"$chunkBytes-byte range — refusing the oversized slice")
            sink.write(slice)
            off += slice.length
            total = contentRangeTotal(resp).getOrElse(total)
            // a short or empty slice with no known total ends the
            // transfer (the server has nothing past `off`)
            done = (total >= 0 && off >= total) || slice.length == 0 ||
              (total < 0 && slice.length < chunkBytes)
          case 200 =>
            // Range ignored: the body IS the whole resource; only
            // legal on the first request (a mid-stream 200 would
            // silently restart the payload — fail loudly instead)
            require(off == 0,
              s"server ignored Range mid-transfer at offset $off")
            sink.write(resp.bytes)
            off = resp.bytes.length.toLong
            done = true
          case 416 => // requested range not satisfiable: off == size
            done = true
          case s =>
            throw new RuntimeException(
              s"chunked GET $url failed at offset $off with $s" +
                (if (policy.retryable(s))
                  s" after ${policy.maxRetries} retries" else ""))
        }
      }
      off
    }
  }

  /** Cross-partition request throttle — a token bucket EVERY task in
    * the JVM shares, so N parallel listing/fetch partitions present
    * ONE request rate to the Graph endpoint instead of N uncoordinated
    * ones. [[RetryPolicy]] reacts to a 429 after the fact; without a
    * shared budget, 32 partitions that each behave politely still
    * arrive as a 32× burst, Graph throttles ALL of them, and the
    * retries re-synchronize into the next burst (coordinated 429
    * storm). The bucket meters admission instead, so 429s become the
    * exception path again.
    *
    * Scope: one JVM. In local mode that IS the whole pipeline; on a
    * multi-executor cluster each executor JVM holds its own bucket,
    * so callers size `permitsPerSec` as clusterBudget / numExecutors
    * (the standard decomposition — a cluster-global bucket would put
    * an RPC on every request's hot path for no extra safety: Graph
    * throttles per app+tenant, and E × rate/E meets the same global
    * ceiling).
    *
    * Mechanics: admission times form an arithmetic ladder spaced
    * `1/permitsPerSec` apart; `acquire` claims the next rung under
    * the lock and sleeps OUTSIDE it until the rung is due, so waiting
    * callers don't serialize on the monitor. `clock`/`sleeper` are
    * injected — HttpListingSpec drives a fake pair and asserts the
    * granted schedule never exceeds the configured rate without ever
    * sleeping for real. */
  final class ThrottleBudget(
      permitsPerSec: Double,
      clock: () => Long = System.nanoTime,
      sleeper: Long => Unit = ms => Thread.sleep(ms)) extends Serializable {
    require(permitsPerSec > 0, s"need permitsPerSec > 0, got $permitsPerSec")
    private val intervalNs = math.max(1L, (1e9 / permitsPerSec).toLong)
    private var nextFreeNs = Long.MinValue

    /** Block until a permit is due; returns the granted admission
      * time (ns, `clock`'s domain) — observable for tests/metrics. */
    def acquire(): Long = {
      var grantedAt = 0L
      val waitNs = this.synchronized {
        val now = clock()
        grantedAt = math.max(now, nextFreeNs)
        nextFreeNs = grantedAt + intervalNs
        grantedAt - now
      }
      if (waitNs > 0) sleeper((waitNs + 999999) / 1000000)
      grantedAt
    }
  }

  object ThrottleBudget {
    private val registry =
      new java.util.concurrent.ConcurrentHashMap[String, ThrottleBudget]()

    /** The JVM-shared bucket for `name` (e.g. the Graph host) —
      * executor tasks deserialize the same name and meet the same
      * bucket. First caller's rate wins for the JVM's lifetime. */
    def shared(name: String, permitsPerSec: Double): ThrottleBudget =
      registry.computeIfAbsent(name, _ => new ThrottleBudget(permitsPerSec))
  }

  /** Transport wrapper that meters EVERY verb through a
    * [[ThrottleBudget]] — wraps under [[AuthRefreshTransport]] (a 401
    * re-send is one more request and must spend a permit too). */
  final class RateLimitedTransport(inner: WriteTransport,
      budget: ThrottleBudget) extends WriteTransport {
    override def get(url: String): HttpResponse = {
      budget.acquire(); inner.get(url)
    }
    override def getRange(url: String, start: Long,
        endIncl: Long): HttpResponse = {
      budget.acquire(); inner.getRange(url, start, endIncl)
    }
    override def post(url: String, body: String,
        contentType: String): HttpResponse = {
      budget.acquire(); inner.post(url, body, contentType)
    }
    override def delete(url: String): HttpResponse = {
      budget.acquire(); inner.delete(url)
    }
  }

  /** Retry 429/5xx with capped exponential backoff; honor
    * `Retry-After` (seconds) when the server sends one, capped at
    * `maxDelayMs`. `sleeper` is injected so tests assert the exact
    * delay sequence without sleeping. */
  final case class RetryPolicy(
      maxRetries: Int = 5,
      baseDelayMs: Long = 500,
      maxDelayMs: Long = 30000) {

    def retryable(status: Int): Boolean = status == 429 || status >= 500

    /** Backoff before retry attempt `n` (0-based), absent Retry-After:
      * base·2ⁿ capped at maxDelayMs. A negative Retry-After is ignored
      * (the backoff applies) and one past the cap saturates at it
      * without overflowing `s * 1000`, so the delay is never negative.
      * Deterministic — jitter belongs in the transport if ever needed,
      * not in the testable policy. */
    def delayMs(attempt: Int, retryAfter: Option[Long]): Long =
      retryAfter.filter(_ >= 0)
        .map(s => if (s > maxDelayMs / 1000) maxDelayMs else s * 1000)
        .getOrElse(math.min(baseDelayMs << math.min(attempt, 20), maxDelayMs))
  }

  /** The one retry loop: re-issue `call` while its status is
    * retryable and retries remain, sleeping `policy.delayMs` between
    * attempts (honoring `Retry-After`). Returns the FINAL response —
    * 2xx, the first non-retryable status, or the last retryable one
    * after `maxRetries`; status interpretation stays with the caller. */
  def withRetry(policy: RetryPolicy, sleeper: Long => Unit)(
      call: => HttpResponse): HttpResponse = {
    var attempt = 0
    var resp = call
    while (policy.retryable(resp.status) && attempt < policy.maxRetries) {
      // case-insensitive: header case is the server's choice on the
      // wire (the JDK's own test server sends "Retry-after")
      val retryAfter = resp.headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase("Retry-After") => v
      }.flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      sleeper(policy.delayMs(attempt, retryAfter))
      attempt += 1
      resp = call
    }
    resp
  }

  /** GET with the retry policy applied, returning the FINAL response —
    * for probes whose non-2xx answers are semantic (an existence
    * check's 404 means "absent", not "failure"). */
  def getResilient(transport: Transport, policy: RetryPolicy,
      sleeper: Long => Unit)(url: String): HttpResponse =
    withRetry(policy, sleeper)(transport.get(url))

  /** GET with the retry policy applied. Returns the first success
    * (2xx); throws on non-retryable status (fail fast, C5) or after
    * `maxRetries` retryable failures (C6-normalized: loud, not
    * print-and-continue). */
  def getWithRetry(transport: Transport, policy: RetryPolicy,
      sleeper: Long => Unit)(url: String): HttpResponse = {
    val resp = getResilient(transport, policy, sleeper)(url)
    if (resp.status >= 200 && resp.status < 300) resp
    else if (policy.retryable(resp.status))
      throw new RuntimeException(
        s"GET $url failed with ${resp.status} after " +
          s"${policy.maxRetries} retries")
    else throw new RuntimeException(
      s"GET $url failed with ${resp.status} (not retryable)")
  }
}

/** Graph-children listing over HTTP: one page per GET, following
  * `@odata.nextLink` until absent. Page shape is the documented Graph
  * response consumed at `sharepoint_to_bronze_delta.py:76`:
  * `{"value":[{name, size, file?:{mimeType}, folder?:{...}}, ...],
  *   "@odata.nextLink": "..."}` — items without a `file` facet are
  * folders and surface with a null mime (the P1 filter drops them
  * downstream, same as the reference's `if "file" in it`).
  */
final class HttpListingProvider(
    baseUrl: String,
    transport: HttpListing.Transport,
    policy: HttpListing.RetryPolicy = HttpListing.RetryPolicy(),
    sleeper: Long => Unit = Thread.sleep) extends ListingProvider {

  private def childrenUrl(folder: String): String =
    s"$baseUrl/root:/$folder:/children"

  override def list(folder: String): Seq[Listed] = {
    val get = HttpListing.getWithRetry(transport, policy, sleeper) _
    val mapper = new ObjectMapper()
    val out = Seq.newBuilder[Listed]
    var next: Option[String] = Some(childrenUrl(folder))
    var pages = 0
    while (next.isDefined) {
      pages += 1
      require(pages <= 10000, s"runaway pagination listing $folder")
      val root = mapper.readTree(get(next.get).body)
      val items = Option(root.get("value")).map(_.elements())
        .getOrElse(java.util.Collections.emptyIterator[JsonNode]())
      items.forEachRemaining { it =>
        val name = Option(it.get("name")).map(_.asText()).orNull
        val file = Option(it.get("file"))
        out += Listed(
          folder, name,
          file.flatMap(f => Option(f.get("mimeType")).map(_.asText()))
            .orNull,
          if (file.isDefined)
            Option(it.get("size")).map(n => java.lang.Long.valueOf(n.asLong()))
              .orNull
          else null)
      }
      next = Option(root.get("@odata.nextLink")).map(_.asText())
    }
    out.result()
  }
}
