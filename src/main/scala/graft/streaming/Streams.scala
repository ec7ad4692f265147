package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY §2.10). The reference is
  * batch-only; its semantics — "pick up whatever files exist now,
  * archive so they aren't re-ingested" — are exactly the file source
  * with `Trigger.AvailableNow` + checkpointed progress. The `events`
  * computations below are the streaming twins of `graft.ops.Events`
  * (same logical plans, plus watermarks for state eviction).
  *
  * Scale notes: state stores are keyed by (user_id | window), both
  * bounded; watermarks bound retained state; `AvailableNow` gives
  * batch-sized catch-up without an always-on cluster.
  */
object Streams {

  /** Tumbling hourly counts with late-data handling: events later than
    * `watermark` behind the max seen ts are dropped and their windows
    * finalized. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("n"))

  /** Gap-based sessionization via the native session_window — the
    * streaming twin of `Events` e04. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  final case class Ev(user_id: Long, ts: java.sql.Timestamp)
  final case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)
  // not `private`: the state encoder's generated code must reach it
  final case class SessState(nEvents: Long, nSessions: Long, lastUs: Long)

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * and session counts (new session when the gap exceeds `gapUs`).
    * Demonstrates arbitrary stateful processing where session_window's
    * built-in semantics don't fit. */
  def userSessionState(events: Dataset[Ev], gapUs: Long = 30L * 60 * 1000000)
      (implicit spark: SparkSession): Dataset[UserSessions] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessState, UserSessions](
        GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = evs.map(e => e.ts.getTime * 1000).toArray.sorted
          var st = state.getOption.getOrElse(SessState(0, 0, Long.MinValue))
          sorted.foreach { us =>
            val newSession = st.lastUs == Long.MinValue || us - st.lastUs > gapUs
            st = SessState(st.nEvents + 1,
              st.nSessions + (if (newSession) 1 else 0), us)
          }
          state.update(st)
          UserSessions(user, st.nEvents, st.nSessions)
      }
  }

  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)
  final case class OpenSess(startUs: Long, lastUs: Long, nEvents: Long)

  /** Sessionization with EMIT-ON-CLOSE via flatMapGroupsWithState +
    * event-time timeout: nothing is emitted while a session is open;
    * when the watermark passes last-event + gap the state times out and
    * the finished session is emitted exactly once. This is the
    * arbitrary-state complement of [[sessionCounts]] (which re-emits
    * updated aggregates): downstream consumers see each session once,
    * final, in Append mode. State per user is one small struct; the
    * timeout evicts it, so idle users cost nothing. */
  def closedSessions(events: Dataset[Ev], gapUs: Long = 30L * 60 * 1000000)
      (implicit spark: SparkSession): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSess, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[OpenSess]) =>
          def ts(us: Long) = new java.sql.Timestamp(us / 1000)
          if (state.hasTimedOut) {
            // watermark passed last + gap: close and evict
            val s = state.get
            state.remove()
            Iterator(ClosedSession(user, ts(s.startUs), ts(s.lastUs), s.nEvents))
          } else {
            val sorted = evs.map(_.ts.getTime * 1000).toArray.sorted
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { us =>
              open match {
                case Some(o) if us - o.lastUs <= gapUs =>
                  open = Some(OpenSess(o.startUs, us, o.nEvents + 1))
                case Some(o) => // gap exceeded inside the batch
                  closed += ClosedSession(user, ts(o.startUs), ts(o.lastUs),
                    o.nEvents)
                  open = Some(OpenSess(us, us, 1))
                case None =>
                  open = Some(OpenSess(us, us, 1))
              }
            }
            open.foreach { o =>
              state.update(o)
              // fires once the EVENT-TIME watermark passes this point
              state.setTimeoutTimestamp(o.lastUs / 1000 + gapUs / 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup: drop re-deliveries of the same event_id
    * whose event times fall within the watermark window — the
    * streaming twin of the batch exact-dedup (Text t07). State is
    * bounded: ids older than the watermark are evicted. */
  def dedupedEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  final case class CandPair(da: Long, db: Long)

  /** Streaming MinHash-LSH near-dup candidates — the streaming twin
    * of the batch t09 band join. The column pipeline
    * ([[graft.ops.Text.lshBandKeys]]) is a stateless projection, so
    * it runs unchanged on the stream; the BAND-BUCKET JOIN becomes a
    * state store keyed by (band, bh): each bucket remembers the doc
    * ids it has seen, and a newcomer emits one candidate pair per
    * prior resident. Union over buckets = exactly the batch band
    * join's candidate set, discovered incrementally — every pair
    * appears when its second member arrives (possibly re-emitted
    * via a different shared band; consumers dedup downstream, same
    * as the batch path's `.distinct()`).
    *
    * Scale: state per bucket is the resident id list, capped at
    * `cap` ids — the SAME skew guard as the batch path
    * ([[graft.ops.Similarity]] `lshBucketJoin`): a pathological hot
    * bucket (near-dup cluster, zero vectors) stops admitting
    * residents at the cap instead of emitting O(n²) pairs, and
    * recall for genuinely-similar pairs survives via their other 17
    * bands. Verification (exact Jaccard on the candidate pairs) is
    * a stream-static join downstream, same split as
    * [[scoreAgainstModel]]'s train-offline/apply-online seam. */
  def lshCandidatePairs(docs: DataFrame, cap: Int = 4096)(
      implicit spark: SparkSession): Dataset[CandPair] = {
    import spark.implicits._
    graft.ops.Text.lshBandKeys(docs)
      .as[(Long, Int, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Seq[Long], CandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[(Long, Int, Long)],
            state: GroupState[Seq[Long]]) =>
          var seen = state.getOption.getOrElse(Vector.empty[Long])
          val out = Vector.newBuilder[CandPair]
          rows.foreach { case (id, _, _) =>
            if (!seen.contains(id)) {
              // ≤ cap pairs per newcomer — bounded work even when the
              // bucket is hot; a full bucket still pairs newcomers
              // against its residents, it just stops admitting more
              seen.foreach { o =>
                out += (if (o < id) CandPair(o, id) else CandPair(id, o))
              }
              if (seen.length < cap) seen = seen :+ id
            }
          }
          state.update(seen)
          out.result().iterator
      }
  }

  /** Near-dup GATE at ingest: verified 3-gram-Jaccard matches of a
    * streaming document feed against the STATIC corpus — the screen
    * that quarantines incoming near-duplicates BEFORE they land in
    * bronze (the streaming complement of t08: there both sides are
    * the corpus; here one side arrives). Per micro-batch: the stream
    * side derives the same 18-band MinHash keys as the batch path,
    * candidates come from the stream-static band equi-join (Spark
    * re-plans the static side per batch; at 100 TB the corpus band
    * table is a bucketed catalog table so the join is shuffle-free
    * on the static side), and the exact verify is one
    * array_intersect per candidate. The only streaming state is the
    * (doc_id, cid) dedup of candidate pairs — O(emitted matches),
    * which for a gate is the interesting minority by construction.
    * Emits (doc_id, cid, jaccard ≥ thr); the caller routes matched
    * doc_ids to quarantine. */
  def neardupMatches(docs: DataFrame, corpus: DataFrame,
      thr: Double = 0.8): DataFrame = {
    val corpusSh = corpus
      .select(col("doc_id").as("cid"), graft.ops.Text.shingles.as("csh"))
      .filter(size(col("csh")) > 0)
    val corpusBands = graft.ops.Text.lshBandKeys(corpus)
      .toDF("cid", "band", "bh")
    val streamSh = docs
      .select(col("doc_id"), graft.ops.Text.shingles.as("sh"))
      .filter(size(col("sh")) > 0)
    val streamBands = graft.ops.Text.lshBandKeys(docs)
      .toDF("doc_id", "band", "bh")
    val inter = graft.functions.TextExprs
      .sortedIntersectCount(col("sh"), col("csh"))
    streamBands.join(corpusBands, Seq("band", "bh"))
      .select("doc_id", "cid")
      .dropDuplicates("doc_id", "cid")
      .join(streamSh, "doc_id")
      .join(corpusSh, "cid")
      .select(col("doc_id"), col("cid"),
        (inter.cast("double") /
          (size(col("sh")) + size(col("csh")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= thr)
  }

  /** SemDeDup admission gate at ingest: the streaming complement of
    * s34 ([[graft.ops.Similarity.semDedupCells]]). Arrivals assign to
    * a cell under the FROZEN quantizer — the same fused NearestCell
    * fold the batch path trains with — then screen with exact cosine
    * against the cell's KEPT members. Emits one row per (arrival,
    * kept) hit at cos ≥ eps: (vec_id, cid, kept_id, cos); the caller
    * quarantines matched vec_ids and appends survivors to the keep
    * table (and periodically re-runs the batch job to refresh model
    * and keeps — the standard incremental-dedup contract: existing
    * keeps are frozen, and arrivals do not dedup against each other
    * until that refresh). Scale shape: assignment is per-row map
    * work; the only join is STREAM-STATIC on cid, so with the keep
    * table cid-partitioned/bucketed the static side never shuffles
    * per micro-batch; the only streaming state is the output's
    * (vec_id, kept_id) dedup — O(matches), the interesting minority
    * for a gate by construction. */
  def semDedupMatches(arrivals: DataFrame, kept: DataFrame,
      centroids: Seq[Seq[Double]], eps: Double = 0.95): DataFrame = {
    import graft.functions.VectorExprs
    val asg = arrivals.select(col("vec_id"), col("embedding"),
      VectorExprs.nearestCell(
        transform(col("embedding"), x => x.cast("double")), centroids)
        .getField("cid").as("cid"))
    val keptCells = kept.select(col("vec_id").as("kept_id"), col("cid"),
      col("embedding").as("ke"))
    val cos = VectorExprs.vecDot(col("embedding"), col("ke")) /
      (VectorExprs.vecNorm(col("embedding")) *
        VectorExprs.vecNorm(col("ke")))
    asg.join(keptCells, Seq("cid"))
      .select(col("vec_id"), col("cid"), col("kept_id"), cos.as("cos"))
      .filter(col("cos") >= eps)
      .dropDuplicates("vec_id", "kept_id")
  }

  /** pHash admission gate at ingest — the MULTIMODAL member of the
    * gate family (near-dup text, SemDeDup embeddings, now images):
    * each arriving image decodes through the SAME fused integer-DCT
    * pipeline as batch m23 ([[graft.ops.Multimodal.decodeBmpPhash]] —
    * stream and batch hash bit-identically by construction), then
    * screens against a STATIC corpus hash table via a 16-bit band
    * equi-join (pigeonhole: Hamming ≤ 3 twins always share one of the
    * 4 bands, so the banding is LOSSLESS at the default threshold —
    * m09's discipline). Emits (doc_id, corpus_doc, hamming) per
    * match; the caller quarantines matched arrivals. Scale shape: the
    * decode+hash is per-row map work inside the task (pixels never
    * reach the join), the join is stream-static on the band key so
    * the corpus side can stay bucketed at rest, and the gate keeps
    * ZERO streaming state: multi-band duplicate hits collapse via a
    * stateless lowest-matching-band filter, not a stateful dedup.
    *
    * REDELIVERY CONTRACT (at-least-once): statelessness means no
    * cross-micro-batch memory — an arrival REDELIVERED in a later
    * batch (source replay, restart without exactly-once sink) re-emits
    * its match pairs, where a stateful dropDuplicates would have
    * suppressed them at the cost of one state row per pair forever.
    * Quarantine consumers must therefore handle replayed pairs
    * idempotently (keyed upsert / MERGE on (doc_id, corpus_doc), the
    * [[graft.ingest.BronzeMerge]] discipline) rather than appending. */
  def phashMatches(arrivals: Dataset[(Long, Array[Byte])],
      corpus: DataFrame, maxHam: Int = 3): DataFrame = {
    import arrivals.sparkSession.implicits._
    val hashed = arrivals.map { case (id, bs) =>
      val r = graft.ops.Multimodal.decodeBmpPhash(id, bs)
      (r.doc_id, r.phash)
    }.toDF("doc_id", "phash")
    def banded(df: DataFrame, idCol: String, hashCol: String): DataFrame =
      df.select(col(idCol), col(hashCol), posexplode(array(
        (0 until 4).map(b => shiftright(col(hashCol), 16 * b)
          .bitwiseAND(lit(0xffffL))): _*)))
        .toDF(idCol, hashCol, "band", "bv")
    val a = banded(hashed, "doc_id", "phash")
    val c = banded(corpus.select(col("doc_id").as("corpus_doc"),
      col("phash").as("cphash")), "corpus_doc", "cphash")
    // a Hamming-≤3 pair can share up to 4 bands and would surface
    // once per shared band; the dedup is STATELESS — keep the pair
    // only at its LOWEST matching band, a pure function of the two
    // hashes. (A streaming dropDuplicates here would accrete one
    // state row per emitted pair for the lifetime of the query — a
    // slow leak in an always-on admission gate; the band-canonical
    // filter needs no state and no watermark.)
    val bandMatch = (0 until 4).map(b =>
      shiftright(col("phash"), 16 * b).bitwiseAND(lit(0xffffL)) ===
        shiftright(col("cphash"), 16 * b).bitwiseAND(lit(0xffffL)))
    val firstBand = when(bandMatch(0), 0).when(bandMatch(1), 1)
      .when(bandMatch(2), 2).otherwise(3)
    a.join(c, Seq("band", "bv"))
      .filter(col("doc_id") =!= col("corpus_doc"))
      .withColumn("hamming",
        bit_count(col("phash").bitwiseXOR(col("cphash"))).cast("int"))
      .filter(col("hamming") <= maxHam)
      .filter(col("band") === firstBand)
      .select(col("doc_id"), col("corpus_doc"), col("hamming"))
  }

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks in the preceding hour — the streaming twin of the
    * batch range join (e11). Both sides carry watermarks and the join
    * condition bounds event-time distance, so Spark can size and
    * expire the join state (clicks older than purchase-watermark − 1 h
    * are dropped); without the interval the state would grow forever. */
  def clicksBeforePurchase(clicks: DataFrame,
      purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"))
  }

  final case class ScdEv(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  final case class ScdCurrent(user_id: Long, seq: Int, event_type: String,
      valid_from: java.sql.Timestamp, n_events: Long)
  // not `private`: the state encoder's generated code must reach it
  final case class ScdState(curType: String,
      validFrom: java.sql.Timestamp, seq: Int, nEvents: Long)

  /** Streaming twin of e22's SCD-2 build: the per-user CURRENT
    * dimension row (open interval) maintained via mapGroupsWithState.
    * The batch query owns the closed-interval history; the stream
    * owns "what is true now" — exactly the row a MERGE upserts into
    * the serving dimension on every micro-batch. Events are ordered
    * (event-time µs, event_id) inside each batch — the identical
    * total order the batch islands pass uses — so given chunks in
    * event-time order (the session twins' contract) the final state
    * per user equals the batch `is_current` slice row-for-row,
    * including the µs-exact valid_from (the transition Timestamp is
    * carried through state untouched). State per user: one type,
    * one timestamp, two counters — O(users) total, no history. */
  def scd2CurrentState(events: Dataset[ScdEv])
      (implicit spark: SparkSession): Dataset[ScdCurrent] = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    events.groupByKey(_.user_id)
      .mapGroupsWithState[ScdState, ScdCurrent](
        GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[ScdEv], state: GroupState[ScdState]) =>
          val sorted = evs.toArray.sortBy(e =>
            (DateTimeUtils.fromJavaTimestamp(e.ts), e.event_id))
          var st = state.getOption.getOrElse(ScdState(null, null, 0, 0L))
          sorted.foreach { e =>
            if (st.curType == null || st.curType != e.event_type)
              st = ScdState(e.event_type, e.ts, st.seq + 1, 1L)
            else st = st.copy(nEvents = st.nEvents + 1)
          }
          state.update(st)
          ScdCurrent(user, st.seq, st.curType, st.validFrom, st.nEvents)
      }
  }

  /** Per-type `value` moments trained in BATCH — the model side of
    * [[scoreAgainstModel]]. At 100 TB this aggregation runs offline
    * over the full history (one bounded-key shuffle); the resulting
    * relation is a few rows per event type. */
  def valueMoments(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mean_v"),
        stddev_samp(col("value")).as("sd_v"))

  /** Batch-train / stream-apply: z-score each live event's `value`
    * against the batch-trained per-type moments. A broadcast
    * stream-static join — completely STATELESS (no state store, no
    * watermark needed): the canonical production split where the model
    * trains offline at full scale and applies online per event.
    * Unknown types score null (left join) rather than dropping. */
  def scoreAgainstModel(events: DataFrame, moments: DataFrame): DataFrame =
    events.join(broadcast(moments), Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"), col("ts"), col("value"),
        ((col("value") - col("mean_v")) / col("sd_v")).as("z"))
      .withColumn("is_outlier", abs(col("z")) >= 3.0)

  /** Batch-train / stream-apply for the TRAINED classifier: score a
    * live document stream under `graft.ops.Text.lrModel` weights. The
    * margin is `Text.lrMarginExpr` — a row-local fold with the F+3
    * weights inlined as an array literal — so the apply side is not
    * merely stateless but SHUFFLE-FREE: no state store, no watermark,
    * no join, each micro-batch a map-only pass. This is the online
    * half of the CCNet/DCLM quality-filter deployment: train offline
    * on the full corpus, gate documents as they arrive. Docs stream
    * needs (doc_id, text) columns. */
  def scoreDocsWithModel(docs: DataFrame, w: Seq[Double],
      nF: Int = 512): DataFrame =
    docs.select(col("doc_id"),
        graft.ops.Text.lrMarginExpr(w, nF).as("margin"))
      .withColumn("pred", when(col("margin") >= 0, 1).otherwise(0))

  /** Batch-train / stream-apply for DSIR (t63): gate a live document
    * stream with the corpus-trained per-bucket log-ratio table
    * ([[graft.ops.Text.dsirLambdaArray]], a 1024-double model). The
    * weight is [[graft.ops.Text.dsirWeight]] — a row-local fold that
    * replays t63's decimal-exact sum bucket for bucket, so a doc
    * scores bit-identically whether it arrives in a micro-batch or
    * sits in the batch corpus. Map-only: no state store, no
    * watermark, no join — the DSIR deployment shape (train offline,
    * score documents as they arrive, keep those that look like the
    * target domain). Docs stream needs (doc_id, text) columns. */
  def dsirGate(docs: DataFrame, lam: Array[Double],
      threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, graft.ops.Text.dsirWeight(text, lam)) }
      .toDF("doc_id", "dsir_weight")
      .withColumn("keep", col("dsir_weight") >= threshold)
  }

  // not `private`: the state encoder's generated code must reach it
  final case class ShardHH(shard: Int, version: Long,
      counters: Map[String, (Long, Long)])

  /** Streaming Space-Saving heavy hitters — the streaming twin of the
    * batch t20 typed Aggregator. Terms shard by hash; each shard folds
    * its slice of the stream into ONE bounded Space-Saving buffer held
    * in keyed state (`capacity` counters — the same `reduce` the batch
    * Aggregator runs map-side) and re-emits the buffer every trigger
    * with a monotone `version` (total observed count) so a consumer
    * keeps only the newest row per shard. State is `shards × capacity`
    * counters TOTAL, forever, regardless of stream length — the
    * bounded-memory property that makes top-k viable on an unbounded
    * stream. Merging the shard buffers ([[mergeHeavyHitters]]) uses
    * the Aggregator's own order-insensitive, sandwich-bound-preserving
    * `merge`, so streamed chunks converge to the batch answer — and
    * equal it EXACTLY when capacity ≥ per-shard vocabulary (StreamsSpec
    * asserts ≡ batch t20 in that regime). */
  def heavyHitterShards(terms: Dataset[String], capacity: Int,
      shards: Int = 16)(implicit spark: SparkSession): Dataset[ShardHH] = {
    import spark.implicits._
    val agg = new graft.functions.Aggregators.SpaceSaving(capacity, capacity)
    terms.map(t => (math.floorMod(t.hashCode, shards), t))
      .groupByKey(_._1)
      .mapGroupsWithState[Map[String, (Long, Long)], ShardHH](
        GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(Int, String)],
            state: GroupState[Map[String, (Long, Long)]]) =>
          var buf = state.getOption.getOrElse(agg.zero)
          rows.foreach { case (_, t) => buf = agg.reduce(buf, t) }
          state.update(buf)
          ShardHH(shard, buf.valuesIterator.map(_._1).sum, buf)
      }
  }

  final case class ShardCms(shard: Int, version: Long, sketch: Seq[Long])

  /** Streaming Count-Min: one CMS per term shard in
    * `mapGroupsWithState`. Stronger than the heavy-hitter twin: CMS
    * increments are position-fixed (term → same cells in every
    * sketch) and merge is elementwise addition, so summing the latest
    * shard sketches equals the single batch sketch EXACTLY — sharding
    * and chunking introduce zero approximation, ever (StreamsSpec
    * asserts array equality, not bounds). State is
    * `shards × depth × width` longs TOTAL on an unbounded stream. */
  def cmsShards(terms: Dataset[String], depth: Int, width: Int,
      shards: Int = 16)(implicit spark: SparkSession): Dataset[ShardCms] = {
    import spark.implicits._
    val agg = new graft.functions.Aggregators.CountMin(depth, width)
    terms.map(t => (math.floorMod(t.hashCode, shards), t))
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], ShardCms](
        GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(Int, String)],
            state: GroupState[Array[Long]]) =>
          var buf = state.getOption.getOrElse(agg.zero)
          rows.foreach { case (_, t) => buf = agg.reduce(buf, t) }
          state.update(buf)
          // version = row-0 counter total = terms seen (each term
          // increments exactly one width-slot in depth row 0) — monotone
          ShardCms(shard, buf.view.slice(0, width).sum, buf.toSeq)
      }
  }

  /** Elementwise-sum the latest shard sketches into the global CMS. */
  def mergeCms(sketches: Seq[Seq[Long]]): Seq[Long] =
    sketches.reduce((a, b) => a.lazyZip(b).map(_ + _))

  final case class DayWau(day: String, version: Long, wau_est: Double,
      sketch: Seq[Long])

  /** Streaming rolling 7-day distinct users — the streaming twin of
    * batch e26's windowed COUNT(DISTINCT), at KMV sketch precision.
    * Each event fans out to the ≤7 observation days it serves (the
    * same bounded fan-out that turns the batch sliding distinct into
    * one equi-aggregation — a distinct is not subtractable, so no
    * incremental window trick exists), and every observation day
    * folds the user's 64-bit hash into ONE bounded KMV buffer in
    * keyed state: ≤ k longs per calendar day, forever — an unbounded
    * stream cannot grow it. The buffer is a pure function of the
    * observed (day, user) SET (order-independent, merge-idempotent,
    * duplicate-proof), so streamed chunks equal the batch sketch
    * EXACTLY, and while a day's distinct users stay under k the
    * estimate is exact (StreamsSpec asserts both). `version` is the
    * monotone processed-row count; a consumer keeps the newest row
    * per day and filters to its activity spine (days past the last
    * event carry partial look-ahead state by construction). */
  def rollingWauDays(events: Dataset[Ev], k: Int = 256)(
      implicit spark: SparkSession): Dataset[DayWau] = {
    import spark.implicits._
    val agg = new graft.functions.Aggregators.Kmv(k)
    // day bucketing follows the SESSION time zone, like the batch
    // twin's to_date(ts) — a hardcoded UTC would silently shift every
    // near-midnight event's window under a non-UTC session
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    events.flatMap { e =>
      val day = e.ts.toInstant.atZone(zone).toLocalDate
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(e.user_id, 42L)
      (0 until 7).map(off => (day.plusDays(off).toString, h))
    }
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Seq[Long]), DayWau](
        GroupStateTimeout.NoTimeout) {
        (day: String, rows: Iterator[(String, Long)],
            state: GroupState[(Long, Seq[Long])]) =>
          var (n, buf) = state.getOption.getOrElse((0L, agg.zero))
          rows.foreach { case (_, h) => buf = agg.reduce(buf, h); n += 1 }
          state.update((n, buf))
          DayWau(day, n,
            graft.functions.Aggregators.Kmv.estimate(buf, k), buf)
      }
  }

  final case class GrowthInc(day_num: Long, kind: String)
  final case class GrowthState(lastDay: Long, churned: Boolean,
      pending: Seq[Long])

  /** Streaming twin of batch e29 growth accounting: decompose each
    * user-day into new / retained / resurrected and emit churn
    * increments. A day is CLASSIFIED ONLY ONCE THE WATERMARK CLOSES
    * IT (any still-missing event for an earlier day would be late
    * beyond the watermark), so out-of-order arrival WITHIN the
    * watermark across micro-batches classifies identically to the
    * batch twin — arrival order inside the tolerance never fabricates
    * a churn or drops a day. Per-user state is (lastFinalizedDay,
    * churnEmitted, pending not-yet-closed days): the pending buffer
    * is bounded by the watermark horizon in DAYS, not by stream
    * length. Churn at lastDay+1 fires when that day closes — via
    * event-time timeout when no data arrives — exactly once (the
    * `churned` flag survives replays). Day bucketing follows the
    * session time zone like the batch twin's `to_date(ts)`; days at
    * or before the finalized frontier are ignored (at-least-once
    * safe). A consumer joins the increments to its observed day
    * spine, which is where the batch twin's "churn days outside the
    * spine drop" rule lives — per-user state cannot know the global
    * spine. */
  def growthIncrements(events: Dataset[Ev],
      watermark: String = "10 minutes",
      retentionDays: Option[Int] = None)(
      implicit spark: SparkSession): Dataset[GrowthInc] = {
    import spark.implicits._
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    def dayEndMs(d: Long): Long = java.time.LocalDate.ofEpochDay(d + 1)
      .atStartOfDay(zone).toInstant.toEpochMilli
    // retention horizon: WITHOUT it, one state row per user ever seen
    // lives forever — bounded per user, unbounded in lifetime user
    // cardinality. With it, a churned user whose pending buffer has
    // drained is REMOVED once the watermark passes churn-day-end +
    // horizon; the documented trade is that a reappearance beyond the
    // horizon classifies as "new", not "resurrected" (a consumer that
    // needs lifetime resurrection keeps retentionDays = None and
    // accepts user-cardinality state, like the batch twin's full
    // history scan).
    val retentionMs = retentionDays.map(_ * 86400000L)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GrowthState, GrowthInc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, evs: Iterator[Ev], state: GroupState[GrowthState]) =>
          val wm = state.getCurrentWatermarkMs()
          if (state.hasTimedOut && retentionMs.exists(r =>
              state.getOption.exists(s => s.churned && s.pending.isEmpty &&
                s.lastDay != Long.MinValue &&
                wm >= dayEndMs(s.lastDay + 1) + r))) {
            // churn already emitted, nothing pending, horizon passed:
            // retire the user's row
            state.remove()
            Iterator.empty
          } else {
          val newDays = if (state.hasTimedOut) Array.empty[Long]
            else evs
              .map(e => e.ts.toInstant.atZone(zone).toLocalDate.toEpochDay)
              .toArray.distinct
          var st = state.getOption
            .getOrElse(GrowthState(Long.MinValue, churned = true, Nil))
          val pending = (st.pending ++ newDays).distinct
            .filter(d => st.lastDay == Long.MinValue || d > st.lastDay)
            .sorted
          val out = Seq.newBuilder[GrowthInc]
          var last = st.lastDay; var churned = st.churned
          var rest = pending
          // finalize every pending day the watermark has closed, in
          // order; each finalization may first settle the churn gap
          // behind it
          while (rest.nonEmpty && dayEndMs(rest.head) <= wm) {
            val d = rest.head
            if (last == Long.MinValue) out += GrowthInc(d, "new")
            else if (d == last + 1) out += GrowthInc(d, "retained")
            else {
              if (!churned) out += GrowthInc(last + 1, "churned")
              out += GrowthInc(d, "resurrected")
            }
            last = d; churned = false
            rest = rest.tail
          }
          // churn behind the frontier: decidable once day last+1 closes
          // and no pending day can fill it
          if (last != Long.MinValue && !churned &&
              dayEndMs(last + 1) <= wm &&
              (rest.isEmpty || rest.head > last + 1)) {
            out += GrowthInc(last + 1, "churned")
            churned = true
          }
          state.update(GrowthState(last, churned, rest))
          // wake when the next decision point closes: the first
          // pending day, or the churn day behind an idle frontier
          val next =
            if (rest.nonEmpty) Some(dayEndMs(rest.head))
            else if (last != Long.MinValue && !churned)
              Some(dayEndMs(last + 1))
            else retentionMs.collect {
              // fully settled: schedule the retirement sweep
              case r if last != Long.MinValue => dayEndMs(last + 1) + r
            }
          next.foreach(t => state.setTimeoutTimestamp(math.max(t, wm + 1)))
          out.result().iterator
          }
      }
  }

  /** Fold emitted shard buffers into the global top-k with the batch
    * Aggregator's merge (callers pass each shard's LATEST buffer —
    * highest `version`). Exact (err=0) when no shard ever evicted. */
  def mergeHeavyHitters(shardBufs: Seq[Map[String, (Long, Long)]],
      capacity: Int, k: Int): Seq[graft.functions.Aggregators.HeavyHitter] = {
    val agg = new graft.functions.Aggregators.SpaceSaving(capacity, k)
    agg.finish(shardBufs.foldLeft(agg.zero)(agg.merge))
  }

  /** Streaming ingest INTO the merge-semantics bronze table: each
    * micro-batch lands through `BronzeMerge.mergeIngestDf`, so
    * exactly-once holds on TWO independent legs — the checkpoint stops
    * the source re-reading files, and the identity-key anti-join stops
    * re-read files re-landing. Losing the checkpoint (the classic
    * streaming dup source) therefore still produces zero duplicates:
    * the source replays everything, the merge appends nothing.
    *
    * Crash anatomy (why restart-from-checkpoint is exact): a crash
    * BEFORE the log commit leaves an orphan uncommitted batch
    * directory — invisible to readers, side-stepped by the retry's
    * collision-free batch naming, reclaimed by vacuum; a crash AFTER
    * the commit but before the checkpoint marks the micro-batch done
    * replays the same files into the anti-join, which appends nothing.
    * Either way the restarted run converges on exactly the
    * uninterrupted run's table. `onBeforeCommit` (forwarded to
    * `mergeIngestDf`) and `onBatchDone` (after a micro-batch's merge
    * returns) are the fault-injection seams StreamsSpec drives those
    * two crash points through; production callers leave the defaults.
    *
    * NOTE a plain file directory carries no source item id, so rows
    * landed here are id-LESS (legacy identity): fine for ingest and
    * re-run idempotence, but [[discoverIncrementPaged]]'s id-keyed
    * tombstone deletes cannot address them — a catalog-driven drain
    * that must observe source deletions should land blobs WITH the
    * staged `id` as `source_item_id` (see the tombstone doc on
    * [[discoverIncrementPaged]]). */
  def streamMergeIngest(spark: SparkSession, srcDir: String,
      table: String, checkpoint: String,
      onBeforeCommit: () => Unit = () => (),
      onBatchDone: () => Unit = () => ()): Unit = {
    val q = spark.readStream
      .format("binaryFile")
      // the binaryFile source's fixed schema (streaming requires it
      // spelled out)
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .load(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ingest.BronzeMerge.mergeIngestDf(batch.sparkSession,
          batch.select(
            substring_index(col("path"), "/", -1).as("file_name"),
            col("length"), col("modificationTime").as("modified"),
            col("content")), table, onBeforeCommit = onBeforeCommit)
        onBatchDone()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Delete the rows of one window's `nDead` tombstoned ids (`dead`,
    * one [[graft.ingest.BronzeMerge.IdCol]] column) from `table` by
    * anti-join. An empty or not-yet-created bronze makes every
    * tombstone a no-op (the delete returns version 0 on the latter). A
    * delete that matched nothing against a LEGACY table (every batch
    * predates source_item_id) is a structural no-op, so source
    * deletions would silently stop propagating and bronze would
    * diverge forever: that case warns LOUDLY, naming the one-shot
    * migration (BronzeMerge.backfillIds, mapping from the staged
    * catalog) after which deletes flow again. The id check runs only
    * after a zero-match delete on a committed table — a delete that
    * matched proves the table carries ids. */
  private def deleteTombstones(spark: SparkSession, table: String,
      dead: DataFrame, nDead: Long): Unit =
    if (nDead > 0) {
      val (ver, deleted) = graft.ingest.BronzeMerge.deleteMatchingKeys(
        spark, table, dead, Seq(graft.ingest.BronzeMerge.IdCol))
      if (ver > 0 && deleted == 0 &&
          !graft.ingest.BronzeMerge.carriesIds(spark, table))
        log.warn(s"tombstone window ($nDead ids) against id-less " +
          s"bronze table $table: every batch predates " +
          "source_item_id, so id-keyed deletes CANNOT match — " +
          "bronze will diverge from the source until " +
          "BronzeMerge.backfillIds migrates the table")
    }

  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.streaming.Streams")

  /** Window tag for the idempotent staged catalog: a stable digest of
    * the deltaLink the window synced FROM (absent = the initial full
    * sync) — a replayed window is BY DEFINITION the same from-token,
    * so its staging write overwrites its own `window=` partition
    * instead of appending a duplicate copy. Prefixed non-numeric so
    * partition discovery always infers a string column. */
  private[graft] def stagingWindowTag(fromToken: Option[String]): String =
    "w" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(fromToken.getOrElse("").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** One drain item whose blob fetch failed, PARKED instead of
    * wedging the window — the engine-side form of the reference's
    * per-file error isolation (C2, `sharepoint_to_bronze_delta.py:
    * 213-219`: download/upload failure → log + skip + continue).
    * Carries everything a later window needs to retry the fetch
    * (identity, name, stamp, listed size) plus the captured error. */
  final case class QuarantinedItem(
      source_item_id: String,
      file_name: String,
      modified: java.sql.Timestamp,
      size: java.lang.Long,
      error: String)

  /** A drain's outcome: rows appended to bronze plus the items whose
    * fetch failed (always empty when failure isolation is off — a
    * failure then aborts the window instead). */
  final case class DrainResult(appended: Long, failed: Seq[QuarantinedItem])

  /** Land one discovery window's live blobs into bronze BY ITEM ID —
    * the drain the id-keyed tombstone contract assumes. `meta` is any
    * `(source_item_id, file_name[, modified][, size])` DataFrame,
    * typically the window-slice relation [[discoverIncrementPaged]]
    * writes, which never exists as a driver collection (missing
    * columns default to the fallback stamp / unknown size). Each item
    * fetches `<driveBaseUrl>/items/<id>/content` — the reference's
    * own download identity (`sharepoint_to_bronze_delta.py:163-176`
    * downloads by drive item) — EXECUTOR-SIDE through the chunked
    * range-GET ([[graft.pipeline.HttpListing.ChunkedTransfer]]:
    * O(chunkBytes) transfer slices, per-chunk retry; the assembled
    * row is O(file), the floor for a content-column store — see
    * `filesZone` for blobs that must never be rows), then lands
    * `(source_item_id, file_name, length, modified, content)`
    * through the idempotent merge. Bandwidth is O(window), never
    * O(catalog). Duplicates are collapsed so every id fetches once,
    * keeping the LATEST stamp (an item updated twice in one window
    * has one current content, keyed off the newest generation).
    * Re-drains of a replayed window re-fetch but re-land nothing (the
    * id-qualified keys dedupe — at-least-once fetch, exactly-once
    * rows, C4). `length` is the FETCHED byte count (authoritative
    * over the listing's size facet); `modified` is each item's REAL
    * change stamp ([[graft.pipeline.DeltaListing.DeltaItem]].modified
    * — replays key identically because the stamp comes from the
    * listing, not a clock), with the fixed-epoch parameter as the
    * fallback for stamp-less payloads. A fetch failure aborts the
    * window (fail-loud → checkpoint never advances →
    * replay-to-success); for per-item isolation use
    * [[drainItemsIsolated]]. Returns appended rows. */
  def drainItems(spark: SparkSession,
      transport: graft.pipeline.HttpListing.Transport,
      driveBaseUrl: String,
      meta: DataFrame,
      table: String,
      policy: graft.pipeline.HttpListing.RetryPolicy =
        graft.pipeline.HttpListing.RetryPolicy(),
      chunkBytes: Int = 8 << 20,
      modified: java.sql.Timestamp = new java.sql.Timestamp(0L),
      filesZone: Option[String] = None,
      largeBlobBytes: Long = Long.MaxValue): Long =
    drainCore(spark, ItemFetch(transport, driveBaseUrl, policy, chunkBytes,
      filesZone.orNull, largeBlobBytes, isolate = false), meta, table,
      modified).appended

  /** [[drainItems]] with the reference's PER-FILE error isolation
    * (C2): each item's fetch error is captured by the per-item step
    * ([[ItemFetch]]) INSIDE the fetch partition instead of failing the
    * task, the good items land, and the failures come back as
    * [[QuarantinedItem]]s for the caller to park and retry — one
    * permanently dead item (the routine 404 from a delete between list
    * and fetch, a forever-5xx corrupt blob) can no longer freeze the
    * deltaLink and wedge all future ingestion. The same step retries
    * a parked set on the driver ([[syncToBronzePaged]]), so both
    * capture a failure identically. Failure capture rides a
    * collection accumulator: O(failures) driver memory (poison items
    * are the exception path by design — a systemic outage is better
    * served by the fail-loud [[drainItems]], whose replay-to-success
    * the fault-injection spec pins), deduped by id because task
    * retries can double-report. */
  def drainItemsIsolated(spark: SparkSession,
      transport: graft.pipeline.HttpListing.Transport,
      driveBaseUrl: String,
      meta: DataFrame,
      table: String,
      policy: graft.pipeline.HttpListing.RetryPolicy =
        graft.pipeline.HttpListing.RetryPolicy(),
      chunkBytes: Int = 8 << 20,
      modified: java.sql.Timestamp = new java.sql.Timestamp(0L),
      filesZone: Option[String] = None,
      largeBlobBytes: Long = Long.MaxValue): DrainResult =
    drainCore(spark, ItemFetch(transport, driveBaseUrl, policy, chunkBytes,
      filesZone.orNull, largeBlobBytes, isolate = true), meta, table,
      modified)

  /** One fetched drain item as bronze lands it: the FETCHED byte count
    * as `length`, and the bytes in `content` or, for a blob routed to
    * the Files zone, its path in `content_path`. */
  private[graft] final case class FetchedRow(source_item_id: String,
      file_name: String, length: Long, modified: java.sql.Timestamp,
      content: Array[Byte], content_path: String)

  private val RetriedSchema =
    org.apache.spark.sql.Encoders.product[FetchedRow].schema

  /** The drain's per-item step, the one fetch-and-capture both fetch
    * sites run: executor partitions over a window's live items
    * ([[drainCore]]) and the driver over the parked set
    * ([[syncToBronzePaged]]). SIZE-THRESHOLD ROUTER (`zone`, null when
    * off): an item whose LISTED size reaches `largeBlobBytes` streams
    * chunk by chunk straight to `<zone>/<id>` through the Hadoop
    * FileSystem — O(chunkBytes) peak heap, never a `ByteArrayOutput
    * Stream` and never a content column (whose `Array[Byte]` ceiling
    * is 2 GiB) — and lands a PATH-REFERENCE row (`content` null,
    * `content_path` set, `length` = streamed byte count). This is the
    * reference's own big-file semantics: K1 streams files into the
    * lakehouse Files area (`sharepoint_to_bronze_delta.py:173-176`
    * via `mssparkutils.fs.cp`) rather than a table row. The zone
    * write is overwrite-idempotent (a replayed window rewrites the
    * same bytes at the same path); the id-keyed tombstone path also
    * removes the zone file ([[syncToBronzePaged]]). With `isolate` a
    * fetch error comes back as the item's [[QuarantinedItem]];
    * without it the error propagates. `conf` is only evaluated for a
    * zone write. */
  private final case class ItemFetch(
      transport: graft.pipeline.HttpListing.Transport,
      driveBaseUrl: String,
      policy: graft.pipeline.HttpListing.RetryPolicy,
      chunkBytes: Int,
      zone: String,
      largeBlobBytes: Long,
      isolate: Boolean) {
    def apply(conf: => org.apache.hadoop.conf.Configuration, id: String,
        name: String, mod: java.sql.Timestamp,
        size: Option[Long]): Either[QuarantinedItem, FetchedRow] = {
      import graft.pipeline.HttpListing.ChunkedTransfer
      val url = s"$driveBaseUrl/items/$id/content"
      try {
        if (zone != null && size.exists(_ >= largeBlobBytes)) {
          val dest = new org.apache.hadoop.fs.Path(zone, id)
          val out = dest.getFileSystem(conf).create(dest, true)
          val n =
            try ChunkedTransfer.fetchTo(transport, policy,
              (ms: Long) => Thread.sleep(ms))(url, out, chunkBytes)
            finally out.close()
          Right(FetchedRow(id, name, n, mod, null, dest.toString))
        } else {
          val buf = new java.io.ByteArrayOutputStream()
          ChunkedTransfer.fetchTo(transport, policy,
            (ms: Long) => Thread.sleep(ms))(url, buf, chunkBytes)
          val bytes = buf.toByteArray
          Right(FetchedRow(id, name, bytes.length.toLong, mod, bytes, null))
        }
      } catch {
        case scala.util.control.NonFatal(e) if isolate =>
          Left(QuarantinedItem(id, name, mod,
            size.map(java.lang.Long.valueOf).orNull,
            (e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage)).take(512)))
      }
    }
  }

  /** Shared fetch-and-merge core: every distinct item of `meta` goes
    * through `fetch` in the executor partitions, and the fetched rows —
    * with `recovered`, rows the caller already fetched, when given —
    * land in ONE [[graft.ingest.BronzeMerge.mergeIngestDf]]. The
    * single fetch pass feeds the merge AND the failure capture —
    * content bytes are never fetched twice and never pinned. */
  private def drainCore(spark: SparkSession,
      fetch: ItemFetch,
      meta: DataFrame,
      table: String,
      modified: java.sql.Timestamp,
      recovered: Option[DataFrame] = None): DrainResult = {
    import spark.implicits._
    val withMod =
      if (meta.columns.contains("modified")) meta
      else meta.withColumn("modified", lit(modified))
    val withSize =
      if (withMod.columns.contains("size")) withMod
      else withMod.withColumn("size", lit(null).cast("long"))
    // one fetch per id, newest stamp wins (struct max orders on
    // `modified` first); AQE re-coalesces the aggregate's output so
    // small windows don't fan into hundreds of empty fetch tasks
    val one = withSize
      .select(col("source_item_id"), col("file_name"),
        coalesce(col("modified"), lit(modified)).as("modified"),
        col("size").cast("long").as("size"))
      .groupBy(col("source_item_id"))
      .agg(max(struct(col("modified"), col("file_name"), col("size")))
        .as("m"))
      .select(col("source_item_id"), col("m.file_name").as("file_name"),
        col("m.modified").as("modified"), col("m.size").as("size"))
    val failAcc = spark.sparkContext
      .collectionAccumulator[QuarantinedItem]("graft.drain.quarantine")
    val confBc =
      if (fetch.zone != null)
        spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf()))
      else null
    val fetched = one
      .as[(String, String, java.sql.Timestamp, Option[Long])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, name, mod, size) =>
          fetch(confBc.value.value, id, name, mod, size) match {
            case Right(row) => Some(row)
            case Left(q) => failAcc.add(q); None
          }
        }
      }
      .toDF()
    val all = recovered.fold(fetched)(fetched.unionByName(_))
    val appended = graft.ingest.BronzeMerge.mergeIngestDf(spark,
      landedShape(all, fetch), table)
    val failed =
      if (!fetch.isolate) Seq.empty[QuarantinedItem]
      else {
        import scala.jdk.CollectionConverters._
        failAcc.value.asScala.toSeq
          .groupBy(_.source_item_id).values.map(_.head)
          .toSeq.sortBy(_.source_item_id)
      }
    DrainResult(appended, failed)
  }

  /** `rows` in the shape bronze lands: the exact legacy 5-column shape
    * unless the Files zone is in play (reading a mixed table merges
    * schemas only when asked to). */
  private def landedShape(rows: DataFrame, fetch: ItemFetch): DataFrame =
    if (fetch.zone != null) rows else rows.drop("content_path")

  /** The file the parked set lives in, one fixed name under the
    * quarantine dir so each replacement is a single rename. */
  private val ParkedFile = "parked.parquet"

  /** The parked-failure relation at `dir` (empty when absent), read on
    * the driver by [[graft.ingest.LocalParquet.read]] — no Spark job.
    * Only [[ParkedFile]] is read where it exists: part files beside it
    * are an older Spark write's set, already replaced. Where it does
    * not, that older write's part files are read one by one. */
  private[graft] def readQuarantine(spark: SparkSession,
      dir: String): Seq[QuarantinedItem] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsq = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parked = new org.apache.hadoop.fs.Path(p, ParkedFile)
    val files =
      if (!fsq.exists(p)) Seq.empty
      else if (fsq.exists(parked)) Seq(parked)
      else fsq.listStatus(p).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getPath).sortBy(_.toString)
    files.flatMap(f => graft.ingest.LocalParquet.read[QuarantinedItem](
      spark, f.toString))
  }

  /** Replace the quarantine relation with the CURRENT failure set —
    * state, not a log: every window retries everything quarantined,
    * so post-window failures are the complete parked set and the
    * replacement is idempotent under window replay (it happens before
    * the checkpoint, so a crash replays and rewrites it). The driver
    * writes the set as [[ParkedFile]] and renames it over the old one
    * ([[graft.ingest.LocalParquet.write]]), so a reader sees the old
    * set or the new one, never none: a failed write keeps the old set,
    * whose windows have already checkpointed and would never list
    * those items again. An older Spark write's part files are swept
    * only after the swap. A set equal to `prior` (what the window
    * read) is already on disk and is not rewritten; an empty set
    * removes the directory, renamed aside first so that a crash
    * midway cannot leave part of a multi-part set. */
  private[graft] def writeQuarantine(spark: SparkSession, dir: String,
      items: Seq[QuarantinedItem], prior: Seq[QuarantinedItem]): Unit = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsq = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (items.toSet == prior.toSet) ()
    else if (items.isEmpty) {
      val aside = new org.apache.hadoop.fs.Path(p.getParent,
        s".${p.getName}-${java.util.UUID.randomUUID()}.gone")
      if (fsq.rename(p, aside)) fsq.delete(aside, true)
      ()
    } else {
      graft.ingest.LocalParquet.write(spark, dir, items.iterator, ParkedFile)
      fsq.listStatus(p).map(_.getPath)
        .filterNot(f => f.getName == ParkedFile || f.getName.startsWith("."))
        .foreach(fsq.delete(_, true))
    }
  }

  /** One row of the paged window's live slice, `<staging>_window/live`. */
  private[graft] final case class LiveRow(source_item_id: String,
      file_name: String, modified: java.sql.Timestamp, size: Option[Long])

  /** One row of the paged window's dead-ids slice,
    * `<staging>_window/dead`: a tombstoned
    * [[graft.ingest.BronzeMerge.IdCol]]. */
  private[graft] final case class DeadRow(source_item_id: String)

  /** The slices' schemas — exactly what each page's write lays down. */
  private val LiveSliceSchema =
    org.apache.spark.sql.Encoders.product[LiveRow].schema
  private val DeadSliceSchema =
    org.apache.spark.sql.Encoders.product[DeadRow].schema

  /** One paged window as its drain sees it: the live `(source_item_id,
    * file_name, modified, size)` slice and the dead-ids slice, each
    * with the row count paging took — the drain never runs a job to
    * learn whether a slice is empty — which of the `parked` ids the
    * window listed, live or dead, and which of those it tombstoned. */
  final case class WindowSlices(live: DataFrame, nLive: Long,
      dead: DataFrame, nDead: Long, parkedListed: Set[String],
      parkedDead: Set[String])

  /** Does a listed item belong in the live slice? Tombstones go to the
    * dead slice; folders (null mime) go nowhere. */
  private def isLive(it: graft.pipeline.DeltaListing.DeltaItem): Boolean =
    !it.deleted && it.mime != null

  /** One scheduled INCREMENTAL-DISCOVERY round (Graph delta query →
    * staged catalog): load the previous deltaLink, fetch only the
    * items changed since it, stage them, run `drain`, propagate the
    * window's tombstones into `bronzeTable`, and persist the new
    * deltaLink. Discovery cost is O(changes) — the fix for the
    * reference's full-catalog re-list every run
    * (`sharepoint_to_bronze_delta.py:72-77`).
    *
    * Driver memory is O(page): a deleted million-item folder
    * tombstones every descendant in ONE delta window, so pages stream
    * from [[graft.pipeline.DeltaListingProvider.syncPages]] and the
    * driver writes each page it holds as parquet, with no Spark job
    * ([[graft.ingest.LocalParquet.write]]): one file per page per
    * slice, its live rows to the staging catalog AND to a
    * window-scoped `<staging>_window/live` slice, its tombstoned ids
    * to `<staging>_window/dead`. The drain consumes a RELATION of the
    * window and the delete is the anti-join over the dead relation
    * ([[graft.ingest.BronzeMerge.deleteMatchingKeys]]) — no literal
    * predicate, no driver list. Each slice is opened once, with the
    * schema its page writes gave it ([[LiveRow]], [[DeadRow]]), and
    * the one dead relation serves both the drain and the delete.
    * Paging also notes which of the `parked` ids (O(failures)) the
    * window lists, live or dead, so reconciling a quarantine scans
    * nothing.
    *
    * Ordering is data-then-checkpoint: stage, drain and delete all
    * precede the deltaLink save, so a crash anywhere before it replays
    * the whole window (at-least-once) and each leg is idempotent
    * (window-scoped rewrite / merge / keyed no-op) — the C4 contract
    * of every re-run in the pipeline. A drain AFTER the checkpoint
    * would strand a staged-but-never-landed window on the crash path.
    * The staged catalog is WINDOW-IDEMPOTENT: pages land in
    * `stagingDir/window=<tag>`, the tag a digest of the deltaLink the
    * window synced FROM (a replay is by definition the same token),
    * and that partition is reset with the window dirs at window
    * start, so a replay rebuilds its own partition instead of
    * double-appending — one row per (id, window).
    * `spark.read.parquet(stagingDir)` partition-discovers the window
    * column.
    *
    * TOMBSTONES are keyed on the SOURCE ITEM ID, the identity the
    * reference's own delete is scoped to
    * (`sharepoint_to_bronze_delta.py:105-109`). A Graph tombstone
    * carries only id+name, and only the id distinguishes a deleted
    * file from a deleted same-name folder, a never-ingested item, or
    * a live same-name same-size file in another folder — each of
    * those is a structural no-op (no bronze row carries the dead id).
    * The drain must therefore land the staged `id` as
    * [[graft.ingest.BronzeMerge.IdCol]] ([[drainItems]] does). The
    * delete retains the id-qualified identity key, so a redelivered
    * blob of the DELETED item cannot resurrect its rows, while a
    * byte-identical re-create under a fresh id lands (C3/C4). A
    * tombstone before the table's first commit, or against a legacy
    * id-less bronze ([[deleteTombstones]] warns), is a no-op.
    *
    * `drain` ALWAYS runs (a quarantine-retrying drain has work even
    * in an empty window), after staging and BEFORE the delete, so a
    * same-window delete + re-create lands the new generation before
    * the old id's delete fires and the merge-on-read view never sees
    * an empty name mid-window. It receives the [[WindowSlices]]: both
    * window relations — empty typed relations when the window carried
    * none — with the row counts paging already took. Returns (live
    * rows staged, tombstones observed). */
  def discoverIncrementPaged(spark: SparkSession,
      provider: graft.pipeline.DeltaListingProvider,
      checkpoint: graft.pipeline.DeltaCheckpoint,
      stagingDir: String,
      bronzeTable: Option[String] = None,
      drain: WindowSlices => Unit = _ => (),
      parked: Set[String] = Set.empty): (Long, Long) = {
    import spark.implicits._
    import graft.ingest.LocalParquet
    val fromToken = checkpoint.load()
    val stagingWindowDir = s"${stagingDir.stripSuffix("/")}/window=" +
      stagingWindowTag(fromToken)
    val windowDir = s"${stagingDir.stripSuffix("/")}_window"
    val liveDir = s"$windowDir/live"
    val deadDir = s"$windowDir/dead"
    val fsW = new org.apache.hadoop.fs.Path(windowDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // window-scoped: replays rebuild both (the staging partition is
    // THIS window's — resetting it is what makes the catalog
    // window-idempotent instead of append-only-forever)
    fsW.delete(new org.apache.hadoop.fs.Path(windowDir), true)
    fsW.delete(new org.apache.hadoop.fs.Path(stagingWindowDir), true)
    var nLive = 0L
    var nDead = 0L
    val listed, listedDead = Set.newBuilder[String]
    val link = provider.syncPages(fromToken) { page =>
      val live = page.filter(isLive)
      if (live.nonEmpty) {
        LocalParquet.write(spark, stagingWindowDir, live.iterator)
        LocalParquet.write(spark, liveDir, live.iterator.map(it =>
          LiveRow(it.id, it.name, it.modified, Option(it.size).map(_.toLong))))
      }
      val dead = page.filter(_.deleted).map(it => DeadRow(it.id))
      if (dead.nonEmpty) LocalParquet.write(spark, deadDir, dead.iterator)
      if (parked.nonEmpty) page.filter(it => parked(it.id)).foreach { it =>
        if (it.deleted || isLive(it)) listed += it.id
        if (it.deleted) listedDead += it.id
      }
      nLive += live.size
      nDead += dead.size
    }
    def slice(n: Long, dir: String,
        schema: org.apache.spark.sql.types.StructType): DataFrame =
      if (n > 0) spark.read.schema(schema).parquet(dir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val deadRel = slice(nDead, deadDir, DeadSliceSchema)
    drain(WindowSlices(slice(nLive, liveDir, LiveSliceSchema), nLive,
      deadRel, nDead, listed.result(), listedDead.result()))
    bronzeTable.foreach(deleteTombstones(spark, _, deadRel, nDead))
    checkpoint.save(link)
    (nLive, nDead)
  }

  /** One line per quarantine-mode window: what the window did to the
    * parked set. A WARN only when it parked something new; otherwise
    * INFO. */
  private def logQuarantine(prior: Seq[QuarantinedItem],
      parked: Seq[QuarantinedItem], retried: Int, recovered: Int,
      tombstoned: Int): Unit = {
    val before = prior.map(_.source_item_id).toSet
    val fresh = parked.count(q => !before(q.source_item_id))
    val line = s"quarantine window: retried=$retried " +
      s"recovered=$recovered newly_parked=$fresh " +
      s"cleared_by_tombstone=$tombstoned parked=${parked.size}"
    if (fresh > 0) log.warn(line) else log.info(line)
  }

  /** The reference's whole sync loop in one call
    * (`sharepoint_to_bronze_delta.py:237-277`, incremental form):
    * [[discoverIncrementPaged]] with the relation-driven drain wired
    * in — delta-discover the changed window, stage the catalog, land
    * the changed blobs by id ([[drainItems]]), propagate tombstones as
    * id-keyed bronze deletes, then checkpoint. Each leg is idempotent,
    * so the scheduled re-run IS the crash recovery.
    *
    * FAILURE MODES, chosen per `quarantineDir`:
    *  - `None` (default): fail-loud. Any item's terminal fetch error
    *    aborts the window before the checkpoint advances; the next
    *    scheduled run replays it (the fault-injection spec pins
    *    this). Right for transient outages — wrong for a POISON item
    *    (routine 404 from a delete between list and fetch, a
    *    forever-5xx blob), which freezes the deltaLink for good.
    *  - `Some(dir)`: the reference's own C2 skip-and-continue
    *    (`sharepoint_to_bronze_delta.py:213-219`). Failed items are
    *    captured per item ([[drainItemsIsolated]]), parked in the
    *    quarantine relation at `dir`, and the WINDOW COMMITS; every
    *    later window retries the whole parked set (shrinking it on
    *    success, or when the item is tombstoned upstream). The parked
    *    set is read on the driver before paging
    *    ([[readQuarantine]], no Spark job), and paging notes which
    *    parked ids the window lists ([[WindowSlices]]`.parkedListed`),
    *    so only the quarantine itself, O(failures), is ever
    *    driver-resident and reconciling it against the window costs
    *    no scan. The parked items the window did not list are retried
    *    ON THE DRIVER, one at a time, by the same per-item step the
    *    executors run ([[ItemFetch]]); the recovered rows stream into
    *    the window-scoped `<staging>_window/retried` slice (reset with
    *    the window, so a replay rebuilds it) and land in ONE merge
    *    with the window's live fetch — a window still makes at most
    *    one commit. Only this window's own live failures are checked
    *    against its dead slice. The quarantine is replaced atomically
    *    ([[writeQuarantine]]) and before the checkpoint, so
    *    crash-replays rewrite it idempotently, and each window logs
    *    one line of what it did to the parked set.
    *
    * `filesZone`: enables the large-blob router — items whose listed
    * size reaches `largeBlobBytes` stream to `<filesZone>/<id>`
    * instead of a content column ([[ItemFetch]] scaladoc), and a
    * TOMBSTONED id's zone file is deleted alongside its bronze rows,
    * executor-side over the dead relation and before the checkpoint,
    * so a crash replays the cleanup. Work the window's slice counts
    * prove empty is skipped: no merge without live or recovered
    * items, no reconciliation scan of an empty slice, no quarantine
    * rewrite of an unchanged parked set. A window with nothing live,
    * nothing tombstoned and a parked set that neither recovers nor
    * changes runs no Spark job. Returns (live rows staged,
    * tombstones observed). */
  def syncToBronzePaged(spark: SparkSession,
      provider: graft.pipeline.DeltaListingProvider,
      checkpoint: graft.pipeline.DeltaCheckpoint,
      stagingDir: String,
      transport: graft.pipeline.HttpListing.Transport,
      driveBaseUrl: String,
      table: String,
      policy: graft.pipeline.HttpListing.RetryPolicy =
        graft.pipeline.HttpListing.RetryPolicy(),
      chunkBytes: Int = 8 << 20,
      modified: java.sql.Timestamp = new java.sql.Timestamp(0L),
      quarantineDir: Option[String] = None,
      filesZone: Option[String] = None,
      largeBlobBytes: Long = Long.MaxValue)
      : (Long, Long) = {
    val prior = quarantineDir.fold(Seq.empty[QuarantinedItem])(
      readQuarantine(spark, _))
    discoverIncrementPaged(spark, provider, checkpoint, stagingDir,
      Some(table), parked = prior.map(_.source_item_id).toSet, drain = w => {
        import spark.implicits._
        val IdCol = graft.ingest.BronzeMerge.IdCol
        quarantineDir match {
          case None =>
            if (w.nLive > 0) {
              drainItems(spark, transport, driveBaseUrl, w.live, table,
                policy, chunkBytes, modified, filesZone, largeBlobBytes)
              ()
            }
          case Some(qdir) =>
            // retry everything parked that this window neither
            // tombstoned nor re-listed (its fresher entry supersedes),
            // one item at a time on the driver, streaming what comes
            // back into the window's retried slice
            val retry = prior.filterNot(q => w.parkedListed(q.source_item_id))
            val fetch = ItemFetch(transport, driveBaseUrl, policy,
              chunkBytes, filesZone.orNull, largeBlobBytes, isolate = true)
            lazy val conf = spark.sessionState.newHadoopConf()
            val retryFailed = Seq.newBuilder[QuarantinedItem]
            var nRecovered = 0
            val rows = retry.iterator.flatMap { q =>
              fetch(conf, q.source_item_id, q.file_name,
                Option(q.modified).getOrElse(modified),
                Option(q.size).map(_.toLong)) match {
                case Right(row) => nRecovered += 1; Some(row)
                case Left(f) => retryFailed += f; None
              }
            }.buffered
            val recovered =
              if (!rows.hasNext) None
              else {
                val dir = s"${stagingDir.stripSuffix("/")}_window/retried"
                val file = graft.ingest.LocalParquet.write(spark, dir, rows)
                // a file scan reads every column nullable; the typed
                // pass restores the fetch's own schema (non-null
                // `length`), so a batch's footers do not depend on
                // which side fetched its rows
                Some(spark.read.schema(RetriedSchema).parquet(file.toString)
                  .as[FetchedRow].map(r => r).toDF())
              }
            // ONE merge lands the live fetch and the recovered rows
            val liveFailed =
              if (w.nLive > 0)
                drainCore(spark, fetch, w.live, table, modified,
                  recovered).failed
              else {
                recovered.foreach(r => graft.ingest.BronzeMerge
                  .mergeIngestDf(spark, landedShape(r, fetch), table))
                Seq.empty[QuarantinedItem]
              }
            // which of this window's live failures (O(failures)) its
            // dead slice also lists: one filtered scan, the slice
            // staying a relation; retried items were never listed
            val dead =
              if (w.nDead == 0 || liveFailed.isEmpty) Set.empty[String]
              else w.dead.select(col(IdCol))
                .filter(col(IdCol).isin(liveFailed.map(_.source_item_id): _*))
                .as[String].collect().toSet
            val parked = (retryFailed.result() ++
              liveFailed.filterNot(q => dead(q.source_item_id)))
              .sortBy(_.source_item_id)
            writeQuarantine(spark, qdir, parked, prior)
            logQuarantine(prior, parked, retried = retry.size, nRecovered,
              tombstoned = w.parkedDead.size + dead.size)
        }
        if (w.nDead > 0) filesZone.foreach { zone =>
          val confBc = spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(
              spark.sessionState.newHadoopConf()))
          w.dead.select(col(IdCol)).as[String]
            .foreachPartition { (ids: Iterator[String]) =>
              val zp = new org.apache.hadoop.fs.Path(zone)
              val fsz = zp.getFileSystem(confBc.value.value)
              ids.foreach(id =>
                fsz.delete(new org.apache.hadoop.fs.Path(zp, id), false))
            }
        }
      })
  }

  /** Streaming ANN index maintenance — the always-on twin of
    * [[graft.ops.Similarity.appendToCodedCorpus]]: each micro-batch
    * of (vec_id, embedding) rows is encoded under the FROZEN
    * `modelDir` model and appended into the at-rest coded table, so
    * the stored search (s16) answers over everything ingested so far
    * without ever re-encoding the corpus. Per-batch cost is
    * O(micro-batch); committed coded files are never rewritten.
    * Returns the started query — drive it with the default trigger
    * for continuous freshness or `Trigger.AvailableNow` for
    * checkpointed catch-up. Delivery: the checkpoint gives
    * effectively-once batches; a mid-batch crash can replay one
    * append, so the exactly-once composition routes embeddings
    * through the bronze table first ([[streamMergeIngest]]'s
    * identity anti-join) and feeds this from the change feed. */
  def maintainCodedCorpus(embeddings: DataFrame, modelDir: String,
      checkpoint: String, m: Int = 8, k: Int = 16, kCells: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the memoized model/table lookups must see the SOURCE session:
    // foreachBatch runs under a per-query CLONE (batch.sparkSession),
    // and a clone-keyed memo miss would silently rebuild the coded
    // table at a fresh path and append the delta there
    val session = embeddings.sparkSession
    embeddings.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Similarity.appendToCodedCorpus(session,
            modelDir, batch.select(col("vec_id"), col("embedding")),
            m, k, kCells)
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The bronze change feed as a first-class streaming input —
    * `BronzeMerge.readChanges`'s manual version-range polling turned
    * into checkpointed micro-batches by
    * [[graft.sources.BronzeChangeFeedSource]] (offsets = bronze
    * versions, recorded in the query's offset log, so a restarted
    * query resumes exactly where it stopped). Drive with
    * `Trigger.AvailableNow` for drain-and-stop catch-up or the
    * default trigger to tail the table; compose with
    * [[maintainCodedCorpus]] (project to (vec_id, embedding)) or any
    * `foreachBatch` consumer for the exactly-once
    * bronze-identity-then-derive pipeline. */
  def bronzeChangeFeed(spark: SparkSession, table: String): DataFrame =
    spark.readStream.format("bronze-cdf").option("table", table).load()

  /** Checkpointed file ingest: every file that appears in `srcDir` is
    * ingested exactly once across runs — the streaming-native
    * replacement for the reference's archive-so-not-reingested
    * bookkeeping. Runs to completion (AvailableNow) and returns. */
  def ingestFilesOnce(spark: SparkSession, srcDir: String, destDir: String,
      checkpoint: String): Unit = {
    val stream = spark.readStream
      .format("text")
      .load(srcDir)
      .withColumn("_file", lit(null).cast("string")) // schema stability
      .drop("_file")
    val q = stream.writeStream
      .format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming media decode: every binary file that appears under
    * `srcDir` is decoded to features exactly once across runs — the
    * streaming twin of m08's batch binaryFile path, and the
    * streaming-native form of the reference's poll-the-folder ingest
    * (files keep arriving; the reference's archive+delete bookkeeping
    * is what kept re-polls idempotent — the checkpoint gives that for
    * free). Identity rides the file name, content flows through the
    * same batched real-BMP decode as m03/m08, features append to a
    * parquet sink. AvailableNow drains what exists, then returns;
    * re-running picks up only files the checkpoint has not seen. */
  def decodeMediaStream(spark: SparkSession, srcDir: String,
      destDir: String, checkpoint: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // file stream sources require an explicit schema; binaryFile's is
    // fixed by the format
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val feats = spark.readStream.format("binaryFile").schema(schema)
      .option("pathGlobFilter", "*.bmp").load(srcDir)
      .select(
        regexp_extract(col("path"), "([0-9]+\\.bmp)$", 1).as("file_name"),
        regexp_extract(col("path"), "([0-9]+)\\.bmp$", 1)
          .cast("long").as("doc_id"),
        col("length"), col("content"))
      .as[(String, Long, Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(64).flatMap(_.map { case (fn, id, len, bs) =>
          require(len == bs.length,
            s"$fn: listed $len bytes, read ${bs.length}")
          val (w, h, mr, mg, mb, r00, g00, b00) =
            graft.ops.Multimodal.decodeBmp(bs)
          graft.ops.Multimodal.BmpFileFeatures(fn, id, bs.length, w, h,
            mr, mg, mb, r00, g00, b00)
        })
      }
    val q = feats.writeStream
      .format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
