package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.pipeline.HttpListing.{RetryPolicy, Transport}

/** Incremental catalog discovery via the Graph DRIVE DELTA QUERY
  * (`GET /drives/{id}/root/delta`) — the discovery mode the reference
  * lacks entirely: `sharepoint_to_bronze_delta.py:72-77` re-lists
  * every folder's children on every run, so discovery cost is
  * O(catalog) per run no matter how little changed. At 100 TB /
  * millions of items that full re-list IS the pipeline's steady-state
  * cost. The delta protocol (documented, public Graph API) makes it
  * O(changes):
  *
  *  - **initial sync**: GET `{base}/root/delta` pages through the
  *    full catalog via `@odata.nextLink` (same pagination contract as
  *    the children listing); the LAST page carries
  *    `@odata.deltaLink` — an opaque checkpoint URL.
  *  - **incremental sync**: GET the saved deltaLink; the response
  *    contains ONLY items created/changed/deleted since that
  *    checkpoint (deletions carry a `deleted` facet), again nextLink-
  *    paged, again ending in a fresh deltaLink.
  *
  * The checkpoint composes with Structured Streaming's
  * `Trigger.AvailableNow` drain-and-stop runs ([[Streams
  * .ingestFilesOnce]]): each scheduled run loads the previous
  * deltaLink, fetches the change set, lands it, and persists the new
  * deltaLink — discovery work proportional to the delta, exactly the
  * contract `BronzeMerge.readChanges` gives downstream consumers.
  * Transport, retry and backoff ride the SAME injected stack as the
  * children listing (429/5xx + Retry-After via [[HttpListing
  * .getWithRetry]]), so the whole flow is scripted offline in
  * SourcesSpec.
  */
object DeltaListing {

  /** One changed item from a delta page. `deleted` items surface with
    * whatever identity fields the tombstone carries (Graph sends at
    * least `id` and `name`); consumers drop or tombstone-propagate
    * them instead of re-fetching. Folders surface with a null mime
    * (the P1 file-facet filter drops them downstream, same as the
    * children listing). `modified` is the item's
    * `lastModifiedDateTime` — the REAL change stamp the drain keys
    * bronze rows with (an in-place update whose byte length is
    * unchanged is distinguishable ONLY by this stamp; without it the
    * (id, name, length, modified) merge key would silently drop the
    * new generation and `snapshotLatest`'s desc(modified) tie-break
    * could not prefer it). Null when the payload omits it (some
    * tombstones); consumers fall back to a fixed epoch so replays
    * still key identically. */
  final case class DeltaItem(
      id: String,
      path: String,
      name: String,
      mime: String,
      size: java.lang.Long,
      modified: java.sql.Timestamp,
      deleted: Boolean)
}

/** Stateless delta-query walker. `syncPages(None)` = initial full
  * enumeration; `syncPages(Some(deltaLink))` = only changes since.
  * The caller owns checkpoint persistence ([[DeltaCheckpoint]] for
  * the file-based default).
  */
final class DeltaListingProvider(
    baseUrl: String,
    transport: Transport,
    policy: RetryPolicy = RetryPolicy(),
    sleeper: Long => Unit = Thread.sleep) {

  import DeltaListing._

  private def initialUrl: String = s"$baseUrl/root/delta"

  /** Page-STREAMING sync: `onPage` receives each page's items as it
    * arrives and nothing accumulates here — driver memory is O(page)
    * however large the change window (a deleted million-item folder
    * tombstones every descendant in ONE window). Returns the final
    * deltaLink, which is opaque: persist and replay it verbatim,
    * never parse it. Pages are delivered in protocol order; a thrown
    * `onPage` aborts the walk mid-window with no deltaLink advanced —
    * the caller's next run replays the window from its checkpoint
    * (the C4 at-least-once contract). */
  def syncPages(checkpoint: Option[String])(
      onPage: Seq[DeltaItem] => Unit): String = {
    val get = HttpListing.getWithRetry(transport, policy, sleeper) _
    val mapper = new ObjectMapper()
    var next: Option[String] = Some(checkpoint.getOrElse(initialUrl))
    var delta: Option[String] = None
    var pages = 0
    while (next.isDefined) {
      pages += 1
      require(pages <= 10000, s"runaway delta pagination under $baseUrl")
      val root = mapper.readTree(get(next.get).body)
      val items = Option(root.get("value")).map(_.elements())
        .getOrElse(java.util.Collections.emptyIterator[JsonNode]())
      val page = Seq.newBuilder[DeltaItem]
      items.forEachRemaining(it => page += parseItem(it))
      onPage(page.result())
      next = Option(root.get("@odata.nextLink")).map(_.asText())
      // the deltaLink appears ONLY on the final page; keep the last
      // one seen so a (protocol-violating) early link doesn't win
      Option(root.get("@odata.deltaLink")).map(_.asText())
        .foreach(d => delta = Some(d))
    }
    delta.getOrElse(
      // a sync round without a checkpoint to resume from cannot be
      // silently treated as incremental-from-nothing — fail loud
      throw new RuntimeException(
        s"delta sync under $baseUrl ended without @odata.deltaLink"))
  }

  private def parseItem(it: JsonNode): DeltaItem = {
    val file = Option(it.get("file"))
    DeltaItem(
      id = Option(it.get("id")).map(_.asText()).orNull,
      // parentReference.path is Graph's canonical item location
      // ("/drives/{id}/root:/folder"); absent on some tombstones
      path = Option(it.get("parentReference"))
        .flatMap(p => Option(p.get("path"))).map(_.asText()).orNull,
      name = Option(it.get("name")).map(_.asText()).orNull,
      mime = file.flatMap(f => Option(f.get("mimeType")).map(_.asText()))
        .orNull,
      size =
        if (file.isDefined)
          Option(it.get("size"))
            .map(n => java.lang.Long.valueOf(n.asLong())).orNull
        else null,
      // ISO-8601 instant ("2024-01-01T12:00:00Z", optional fractional
      // seconds) — Graph's documented driveItem stamp format; an
      // unparseable or absent stamp degrades to null rather than
      // failing the page (a tombstone's stamp is irrelevant anyway)
      modified = Option(it.get("lastModifiedDateTime")).map(_.asText())
        .flatMap(s => scala.util.Try(java.sql.Timestamp.from(
          java.time.Instant.parse(s))).toOption).orNull,
      deleted = it.has("deleted"))
  }
}

/** File-based deltaLink checkpoint — the discovery-side analogue of a
  * streaming query's offset log: tiny (one URL), published with
  * [[graft.ingest.AtomicFile.replace]] (so `dir` may live on any
  * Hadoop filesystem; on the local one a save is one rename over the
  * previous file, so a crash keeps the old deltaLink or the new one),
  * absent ⇒ initial sync. Lives NEXT TO the Structured Streaming
  * checkpoint dir in a scheduled `Trigger.AvailableNow` run so both
  * advance together; if the two ever diverge (delta checkpoint ahead
  * of an aborted sink commit) the failure mode is re-fetching one
  * change window — at-least-once,
  * the same contract as the bronze MERGE's idempotent re-run (C4). */
final class DeltaCheckpoint(dir: String) {
  private val file = new org.apache.hadoop.fs.Path(dir, "deltalink")

  def load(): Option[String] = {
    val f = file.getFileSystem(DeltaCheckpoint.conf)
    if (f.exists(file))
      Some(graft.ingest.AtomicFile.read(f, file).trim).filter(_.nonEmpty)
    else None
  }

  def save(deltaLink: String): Unit =
    graft.ingest.AtomicFile.replace(DeltaCheckpoint.conf, file, deltaLink)
}

object DeltaCheckpoint {
  /** One default Hadoop configuration per JVM, so a new checkpoint
    * instance does not parse the default resources again. */
  private val conf = new org.apache.hadoop.conf.Configuration()
}
