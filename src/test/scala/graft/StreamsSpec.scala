package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming session_window sessionizes by 30-minute gaps") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Streams.Ev]
    ms.addData(
      Streams.Ev(1, ts("2024-01-01 10:00:00")),
      Streams.Ev(1, ts("2024-01-01 10:10:00")),
      Streams.Ev(1, ts("2024-01-01 11:30:00")), // > 30 min gap: new session
      Streams.Ev(2, ts("2024-01-01 10:05:00")))
    val q = Streams.sessionCounts(ms.toDF)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("sess")
      .select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(out == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("watermark finalizes hourly windows and drops too-late events") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.hourlyCounts(ms.toDF, watermark = "1 hour")
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(Streams.Ev(1, ts("2024-01-01 10:05:00")),
        Streams.Ev(1, ts("2024-01-01 10:55:00")))
      q.processAllAvailable()
      // advance watermark past 11:00 → the 10:00 window finalizes
      ms.addData(Streams.Ev(1, ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      // this event is behind the watermark (11:30) → dropped
      ms.addData(Streams.Ev(1, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("hourly").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // only the finalized 10:00 window is emitted in append mode, with
    // the late event NOT counted
    assert(out == Map("2024-01-01 10:00:00.0" -> 2L))
  }

  test("mapGroupsWithState tracks per-user session counts across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.userSessionState(ms.toDS)
      .writeStream.format("memory").queryName("ustate")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData(Streams.Ev(1, ts("2024-01-01 10:00:00")),
        Streams.Ev(1, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // second batch: state carries over; gap > 30 min → second session
      ms.addData(Streams.Ev(1, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
    } finally q.stop()

    val last = spark.table("ustate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).last
    assert(last == ((1L, 3L, 2L)))
  }

  test("streaming Space-Saving heavy hitters equal the batch aggregator in the exact regime") {
    import spark.implicits._
    import graft.functions.Aggregators
    import org.apache.spark.sql.{functions => F, Encoders}
    implicit val sq = spark.sqlContext
    // two out-of-order chunks; combined counts: pear 7, plum 7,
    // apple 5, kiwi 3, fig 1
    val chunk1 = Seq.fill(5)("apple") ++ Seq.fill(3)("pear") ++ Seq("kiwi")
    val chunk2 = Seq.fill(4)("pear") ++ Seq.fill(2)("kiwi") ++
      Seq.fill(7)("plum") ++ Seq("fig")
    val capacity = 16; val k = 4
    val ms = MemoryStream[String]
    val q = Streams.heavyHitterShards(ms.toDS, capacity, shards = 4)
      .writeStream.format("memory").queryName("hh")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData(chunk1: _*)
      q.processAllAvailable()
      ms.addData(chunk2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // a consumer keeps only the newest buffer per shard (version is
    // monotone); the merge is the Aggregator's own order-insensitive
    // union, so chunking/sharding cannot change the answer
    val latest = spark.table("hh").as[Streams.ShardHH].collect()
      .groupBy(_.shard).map { case (_, rows) =>
        rows.maxBy(_.version).counters }.toSeq
    val streamed = Streams.mergeHeavyHitters(latest, capacity, k)
      .map(h => (h.term, h.n, h.err))
    // batch twin: the same terms through the t20 udaf
    val hh = F.udaf(new Aggregators.SpaceSaving(capacity, k),
      Encoders.STRING)
    val batch = (chunk1 ++ chunk2).toDF("t").agg(hh(F.col("t")).as("hh"))
      .select(F.explode(F.col("hh")).as("e"))
      .select("e.term", "e.n", "e.err").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch)
    // capacity ≥ vocabulary on every shard → provably exact
    assert(streamed == Seq(("pear", 7L, 0L), ("plum", 7L, 0L),
      ("apple", 5L, 0L), ("kiwi", 3L, 0L)))
  }

  test("streaming LSH near-dup candidates equal the batch band join across chunks") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = (1 to 40).map(i => s"w${i % 13}x$i").mkString(" ")
    val edited = base.split(" ").updated(5, "CHANGED").mkString(" ")
    val noise = (1 to 40).map(i => s"z${i * 31 % 17}y$i").mkString(" ")
    val docs = Seq(
      1L -> base, 2L -> base, 3L -> noise, 4L -> edited, // chunk 1
      5L -> base, 6L -> noise, 7L -> edited)             // chunk 2
    // batch twin: band self-join over the same lshBandKeys projection
    val bk = graft.ops.Text.lshBandKeys(docs.toDF("doc_id", "text"))
    val batchPairs = bk.toDF("da", "band", "bh")
      .join(bk.toDF("db", "band", "bh"), Seq("band", "bh"))
      .filter($"da" < $"db").select("da", "db").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val ms = MemoryStream[(Long, String)]
    val q = Streams.lshCandidatePairs(ms.toDS.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lshcand")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(docs.take(4).map(d => (d._1, d._2)): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(4).map(d => (d._1, d._2)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("lshcand").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed == batchPairs)
    // identical docs share all 18 bands — certain candidates, incl.
    // pairs whose members arrived in DIFFERENT chunks
    assert(Set((1L, 2L), (1L, 5L), (2L, 5L)).subsetOf(streamed))
    assert(!streamed.exists { case (a, b) => a == b })
  }

  test("streaming near-dup gate vs a static corpus equals the batch join") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = (1 to 40).map(i => s"g${i % 11}h$i").mkString(" ")
    val edited = base.split(" ").updated(7, "EDITED").mkString(" ")
    val far = (1 to 40).map(i => s"q${i * 13 % 19}r$i").mkString(" ")
    val corpus = Seq(100L -> base, 101L -> far).toDF("doc_id", "text")
    // incoming feed: a byte-identical dup, a near-dup, and a clean doc
    val feed = Seq(1L -> base, 2L -> edited, 3L -> "totally new words only")
    // batch twin: exact jaccard of every feed doc vs every corpus doc
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val want = (for {
      (id, t) <- feed; (cid, ct) <- Seq(100L -> base, 101L -> far)
      a = sh(t); b = sh(ct)
      j = (a & b).size.toDouble / (a | b).size if j >= 0.8
    } yield (id, cid)).toSet

    val ms = MemoryStream[(Long, String)]
    val q = Streams.neardupMatches(
      ms.toDS.toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("ndgate")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(feed.take(2): _*)
      q.processAllAvailable()
      ms.addData(feed.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ndgate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(x => (x._1, x._2)).toSet == want)
    assert(got.map(x => (x._1, x._2)).distinct.length == got.length)
    // the identical doc matches at exactly 1.0; the clean doc never
    assert(got.exists { case (a, c, j) => a == 1L && c == 100L && j == 1.0 })
    assert(!got.exists(_._1 == 3L))
  }

  test("streaming SemDeDup gate equals a driver-side batch screen " +
    "across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val (centroids, _) = ops.Similarity.kMeansModel(spark, sf0001)
    val (asg, _) = ops.Similarity.kMeans(spark, sf0001)
    val embDf = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val emb = embDf.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val cellOf = asg.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val keptIds = emb.keys.filter(_ % 2 == 0).toSet
    val arrivalIds = emb.keys.filterNot(keptIds).toSeq.sorted
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // independent driver-side screen: same frozen model, same rule
    val want = (for {
      a <- arrivalIds; k <- keptIds
      if cellOf(k) == cellOf(a) && cosine(emb(a), emb(k)) >= 0.4
    } yield (a, k)).toSet
    val keptDf = embDf.join(asg, "vec_id")
      .filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = Streams.semDedupMatches(
      ms.toDS.toDF("vec_id", "embedding"), keptDf,
      centroids.map(_._2), eps = 0.4)
      .writeStream.format("memory").queryName("semgate")
      .outputMode(OutputMode.Append()).start()
    val (b1, b2) = arrivalIds.splitAt(arrivalIds.length / 2)
    try {
      ms.addData(b1.map(id => id -> emb(id).map(_.toFloat).toSeq): _*)
      q.processAllAvailable()
      ms.addData(b2.map(id => id -> emb(id).map(_.toFloat).toSeq): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("semgate").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == want, s"got ${got.size} matches, want ${want.size}")
    assert(want.nonEmpty, "fixture degenerate: no ≥0.4 kept neighbor")
    // the gate admits exactly the arrivals with no kept neighbor
    val admitted = arrivalIds.toSet -- got.map(_._1)
    admitted.foreach { a =>
      assert(!keptIds.exists(k => cellOf(k) == cellOf(a) &&
        cosine(emb(a), emb(k)) >= 0.4), s"arrival $a wrongly admitted")
    }
  }

  test("streaming LSH bucket cap bounds state but still pairs against residents") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = (1 to 40).map(i => s"c${i % 7}v$i").mkString(" ")
    val ms = MemoryStream[(Long, String)]
    // cap = 1: every bucket admits one resident; later identical docs
    // still pair against it (bounded ≤ cap pairs each) but are not
    // admitted, so state cannot grow on a hot bucket
    val q = Streams.lshCandidatePairs(ms.toDS.toDF("doc_id", "text"), cap = 1)
      .writeStream.format("memory").queryName("lshcap")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((1L, base), (2L, base), (3L, base))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("lshcap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 1 is the sole resident everywhere: pairs (1,2), (1,3) exist,
    // (2,3) is suppressed by the cap
    assert(streamed == Set((1L, 2L), (1L, 3L)))
  }

  test("hot-bucket LSH: state and per-batch work stay FLAT across 25 adversarial batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // every batch delivers a new doc with IDENTICAL text — all band
    // keys collide into the same buckets forever, the worst case for
    // keyed state. The cap must make both the state AND the per-batch
    // output flat; an uncapped bucket would emit b-1 pairs at batch b
    // (linear growth) and hold b residents.
    val hot = (1 to 40).map(i => s"h${i % 5}q$i").mkString(" ")
    val cap = 4
    val nBands = graft.ops.Text.lshBandKeys(
      Seq((1L, hot)).toDF("doc_id", "text")).count()
    val ms = MemoryStream[(Long, String)]
    val q = Streams.lshCandidatePairs(
        ms.toDS.toDF("doc_id", "text"), cap = cap)
      .writeStream.format("memory").queryName("lshhot")
      .outputMode(OutputMode.Append()).start()
    val stateRows = scala.collection.mutable.Buffer[Long]()
    val batchPairs = scala.collection.mutable.Buffer[Long]()
    try {
      var prev = 0L
      for (b <- 1 to 25) {
        ms.addData((b.toLong, hot))
        q.processAllAvailable()
        val n = spark.table("lshhot").count()
        batchPairs += (n - prev); prev = n
        stateRows += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
    } finally q.stop()
    // warm-up: batch b ≤ cap pairs against its b-1 residents…
    assert(batchPairs.take(cap).zipWithIndex.forall {
      case (n, i) => n == i * nBands })
    // …then every later newcomer pairs against EXACTLY cap residents
    // per bucket — per-batch work is a constant, not a function of
    // stream age
    assert(batchPairs.drop(cap).forall(_ == cap * nBands),
      s"per-batch pair emissions grew: $batchPairs")
    // keyed-state rows = the band-bucket count, never the doc count
    assert(stateRows.drop(cap).toSet == Set(nBands),
      s"state rows not flat: $stateRows")
  }

  test("heavyHitterShards: state rows flat across 50 batches of unbounded vocabulary") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // fresh vocabulary every batch (1000 distinct terms total) — the
    // regime where a naive per-term state grows linearly forever;
    // Space-Saving must pin state to shards × capacity counters
    val capacity = 8; val shards = 4
    val ms = MemoryStream[String]
    val q = Streams.heavyHitterShards(ms.toDS, capacity, shards)
      .writeStream.format("memory").queryName("hhflat")
      .outputMode(OutputMode.Update()).start()
    val stateRows = scala.collection.mutable.Buffer[Long]()
    try {
      for (b <- 1 to 50) {
        ms.addData((1 to 20).map(i => s"term-$b-$i"): _*)
        q.processAllAvailable()
        stateRows += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
    } finally q.stop()
    // one state row per shard, from the first batch to the last
    assert(stateRows.toSet == Set(shards.toLong),
      s"state rows not flat at $shards: $stateRows")
    // and every emitted buffer respects the Space-Saving counter
    // bound — the within-row state is capacity-bounded too
    val sizes = spark.table("hhflat").as[Streams.ShardHH].collect()
      .map(_.counters.size)
    assert(sizes.nonEmpty && sizes.forall(_ <= capacity))
  }

  test("streaming Count-Min sketch is bit-identical to the batch sketch") {
    import spark.implicits._
    import graft.functions.Aggregators
    import org.apache.spark.sql.{functions => F, Encoders}
    implicit val sq = spark.sqlContext
    val depth = 4; val width = 32
    val chunk1 = Seq.fill(5)("apple") ++ Seq.fill(3)("pear") ++ Seq("kiwi")
    val chunk2 = Seq.fill(4)("pear") ++ Seq.fill(2)("kiwi") ++
      Seq.fill(7)("plum") ++ Seq("fig")
    val ms = MemoryStream[String]
    val q = Streams.cmsShards(ms.toDS, depth, width, shards = 4)
      .writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData(chunk1: _*)
      q.processAllAvailable()
      ms.addData(chunk2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val latest = spark.table("cms").as[Streams.ShardCms].collect()
      .groupBy(_.shard).map { case (_, rows) =>
        rows.maxBy(_.version).sketch }.toSeq
    val streamed = Streams.mergeCms(latest)
    // batch twin over the same terms, one udaf pass
    val cms = F.udaf(new Aggregators.CountMin(depth, width),
      Encoders.STRING)
    val batch = (chunk1 ++ chunk2).toDF("t")
      .agg(cms(F.col("t")).as("s")).head.getSeq[Long](0)
    // increments are position-fixed and merge is addition: sharding
    // and chunk order change NOTHING — exact array equality
    assert(streamed == batch)
    assert(Aggregators.CountMin.estimate(streamed, "pear", depth, width) >= 7L)
    assert(streamed.sum == (chunk1.size + chunk2.size).toLong * depth)
  }

  test("stream-static join enriches a stream against a batch dimension") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val ms = MemoryStream[Streams.Ev]
    val q = ms.toDF.join(dim, Seq("user_id"), "left")
      .groupBy($"tier").count()
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Complete()).start()
    try {
      ms.addData(Streams.Ev(1, ts("2024-01-01 10:00:00")),
        Streams.Ev(1, ts("2024-01-01 10:01:00")),
        Streams.Ev(2, ts("2024-01-01 10:02:00")),
        Streams.Ev(9, ts("2024-01-01 10:03:00"))) // no dim row
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("enriched").collect()
      .map(r => Option(r.getString(0)).getOrElse("none") -> r.getLong(1)).toMap
    assert(out == Map("gold" -> 2L, "basic" -> 1L, "none" -> 1L))
  }

  test("batch-trained model scores a stream; streaming equals batch scoring") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // train offline: clicks centered at 10 with sd 2
    val history = Seq(("click", 8.0), ("click", 10.0), ("click", 12.0),
      ("buy", 100.0), ("buy", 104.0), ("buy", 96.0))
      .toDF("event_type", "value")
    val moments = Streams.valueMoments(
      history.withColumn("event_id", org.apache.spark.sql.functions.lit(0L)))
    // apply online: one normal click, one 6-sigma click, one unknown type
    val ms = MemoryStream[(Long, String, Timestamp, Double)]
    val stream = ms.toDF.toDF("event_id", "event_type", "ts", "value")
    val q = Streams.scoreAgainstModel(stream, moments)
      .writeStream.format("memory").queryName("scored")
      .outputMode(OutputMode.Append()).start()
    val rows = Seq(
      (1L, "click", ts("2024-01-01 10:00:00"), 10.0),
      (2L, "click", ts("2024-01-01 10:01:00"), 22.0), // z = 6 → outlier
      (3L, "scroll", ts("2024-01-01 10:02:00"), 5.0)) // no model row
    try { ms.addData(rows: _*); q.processAllAvailable() } finally q.stop()

    val out = spark.table("scored").collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(4)).map(_ => r.getDouble(4)),
          Option(r.get(5)).map(_ => r.getBoolean(5)))).toMap
    assert(out(1L)._1.get == 0.0 && !out(1L)._2.get)
    assert(out(2L)._1.get == 6.0 && out(2L)._2.get)
    assert(out(3L) == ((None, None))) // unknown type: null score, kept
    // the streaming scores ARE the batch scores of the same rows —
    // stateless stream-static join guarantees the equivalence
    val batch = Streams.scoreAgainstModel(
      rows.toDF("event_id", "event_type", "ts", "value"), moments)
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table("scored").collect().map(_.toString).sorted.toSeq
      == batch)
  }

  test("streaming dedup drops re-delivered event ids within the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Streams.dedupedEvents(ms.toDF.toDF("event_id", "ts"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((1L, ts("2024-01-01 10:00:00")),
        (1L, ts("2024-01-01 10:00:30")), // re-delivery: dropped
        (2L, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      ms.addData((2L, ts("2024-01-01 10:02:00"))) // dup across batches
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("streaming sessionCounts equals batch e04 on a fixture slice") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // same operator, same data, two execution modes: the streaming
    // session_window must produce exactly the batch sessions (complete
    // mode + one batch → watermark drops nothing)
    val slice = Tables.events(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("user_id") < 20)
      .select("user_id", "ts").as[Streams.Ev].collect().toSeq
    assert(slice.nonEmpty)
    val ms = MemoryStream[Streams.Ev]
    ms.addData(slice)
    val q = Streams.sessionCounts(ms.toDF)
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))
    val streamed = spark.table("sess_eq").collect().map(key).toSet
    val batch = SparkEntry.queries("e04_session_window")(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("user_id") < 20)
      .collect().map(key).toSet
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState emits each closed session exactly once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.closedSessions(ms.toDS)
      .writeStream.format("memory").queryName("closed")
      .outputMode(OutputMode.Append()).start()
    try {
      // session A: two events; session B opens in the same batch
      // (in-batch gap > 30 min closes A immediately)
      ms.addData(
        Streams.Ev(1, ts("2024-01-01 10:00:00")),
        Streams.Ev(1, ts("2024-01-01 10:10:00")),
        Streams.Ev(1, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      // advance the watermark far past 11:30 + 30 min → B times out
      ms.addData(Streams.Ev(9, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      ms.addData(Streams.Ev(9, ts("2024-01-01 23:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("closed")
      .filter($"user_id" === 1).collect()
      .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString,
        r.getLong(3))).toSet
    assert(out == Set(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L),
      ("2024-01-01 11:30:00.0", "2024-01-01 11:30:00.0", 1L)))
  }

  test("stream-stream interval join matches clicks to purchases") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Streams.Ev]
    val buys = MemoryStream[Streams.Ev]
    val q = Streams.clicksBeforePurchase(clicks.toDF, buys.toDF)
      .writeStream.format("memory").queryName("cbp")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        Streams.Ev(1, ts("2024-01-01 10:00:00")), // 40 min before: joins
        Streams.Ev(1, ts("2024-01-01 08:00:00")), // 2h40 before: outside
        Streams.Ev(2, ts("2024-01-01 10:20:00"))) // other user
      buys.addData(Streams.Ev(1, ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      // advance both watermarks so the joined row finalizes (append
      // mode emits once neither side can still match it)
      clicks.addData(Streams.Ev(9, ts("2024-01-01 14:00:00")))
      buys.addData(Streams.Ev(9, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("cbp").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString)).toSet
    assert(out.contains(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0")))
    assert(!out.exists(_._2 == "2024-01-01 08:00:00.0"))
    assert(!out.exists(t => t._1 == 2L && t._2 == "2024-01-01 10:20:00.0"))
  }

  test("streaming merge ingest stays exactly-once even with a lost checkpoint") {
    import graft.ingest.BronzeMerge
    val src = Files.createTempDirectory("graft-smi-src")
    val table = Files.createTempDirectory("graft-smi-out")
      .resolve("bronze").toString
    val cp1 = Files.createTempDirectory("graft-smi-cp1").toString
    Files.writeString(src.resolve("a.txt"), "alpha")
    Files.writeString(src.resolve("b.txt"), "bravo")
    Streams.streamMergeIngest(spark, src.toString, table, cp1)
    assert(BronzeMerge.snapshot(spark, table).count() == 2)
    // same checkpoint: source skips seen files, nothing lands
    Files.writeString(src.resolve("c.txt"), "charlie")
    Streams.streamMergeIngest(spark, src.toString, table, cp1)
    assert(BronzeMerge.snapshot(spark, table).count() == 3)
    // LOST checkpoint: the source replays all three files, but the
    // identity-key merge appends none of them again
    val cp2 = Files.createTempDirectory("graft-smi-cp2").toString
    Streams.streamMergeIngest(spark, src.toString, table, cp2)
    val snap = BronzeMerge.snapshot(spark, table)
    assert(snap.count() == 3)
    assert(snap.select("file_name").collect().map(_.getString(0)).sorted
      .toSeq == Seq("a.txt", "b.txt", "c.txt"))
  }

  test("mid-batch crash: restart from checkpoint converges on the uninterrupted run") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    val src = Files.createTempDirectory("graft-kill-src")
    (1 to 3).foreach(i =>
      Files.writeString(src.resolve(s"f$i.txt"), s"payload-$i"))
    def contents(table: String) = BronzeMerge.snapshot(spark, table)
      .collect().map(r => r.getString(0) ->
        new String(r.getAs[Array[Byte]]("content"))).toSeq.sorted

    // the uninterrupted control run this crash-recovery must equal
    val ctl = Files.createTempDirectory("graft-kill-ctl")
      .resolve("bronze").toString
    Streams.streamMergeIngest(spark, src.toString, ctl,
      Files.createTempDirectory("graft-kill-ctl-cp").toString)
    assert(BronzeMerge.currentCommit(spark, ctl)._1 == 1)

    // CRASH POINT 1: data + keys landed, log commit never reached
    val t1 = Files.createTempDirectory("graft-kill-t1")
      .resolve("bronze").toString
    val cp1 = Files.createTempDirectory("graft-kill-cp1").toString
    var armed = true
    intercept[Exception] {
      Streams.streamMergeIngest(spark, src.toString, t1, cp1,
        onBeforeCommit = () => if (armed) {
          armed = false
          throw new RuntimeException("injected crash before commit")
        })
    }
    // nothing committed: the orphan batch dir exists on disk but is
    // invisible to every reader
    assert(BronzeMerge.currentCommit(spark, t1)._1 == 0)
    assert(Files.exists(java.nio.file.Paths.get(t1, "batch-00000001")))
    assert(BronzeMerge.snapshot(spark, t1).count() == 0)
    // restart from the SAME checkpoint: the unfinished micro-batch
    // replays, sidesteps the orphan, and lands exactly once —
    // bronze version and rows equal the uninterrupted run
    Streams.streamMergeIngest(spark, src.toString, t1, cp1)
    assert(BronzeMerge.currentCommit(spark, t1)._1 ==
      BronzeMerge.currentCommit(spark, ctl)._1)
    assert(contents(t1) == contents(ctl))
    // the external-style log read sees the same rows (no orphan leaked)
    assert(DeltaLog.read(spark, t1).count() == 3)
    // vacuum reclaims the orphan attempt
    assert(BronzeMerge.vacuum(spark, t1) == Seq("batch-00000001"))
    assert(contents(t1) == contents(ctl))

    // CRASH POINT 2: version committed, checkpoint never marked done
    val t2 = Files.createTempDirectory("graft-kill-t2")
      .resolve("bronze").toString
    val cp2 = Files.createTempDirectory("graft-kill-cp2").toString
    var armed2 = true
    intercept[Exception] {
      Streams.streamMergeIngest(spark, src.toString, t2, cp2,
        onBatchDone = () => if (armed2) {
          armed2 = false
          throw new RuntimeException("injected crash after commit")
        })
    }
    assert(BronzeMerge.currentCommit(spark, t2)._1 == 1) // commit landed
    // restart replays the same files; the identity anti-join appends
    // NOTHING — no duplicate rows, no phantom version
    Streams.streamMergeIngest(spark, src.toString, t2, cp2)
    assert(BronzeMerge.currentCommit(spark, t2)._1 == 1)
    assert(contents(t2) == contents(ctl))
  }

  test("AvailableNow + checkpoint ingests each file exactly once") {
    val src = Files.createTempDirectory("graft-ss-src")
    val dest = Files.createTempDirectory("graft-ss-out").resolve("data")
    val ckpt = Files.createTempDirectory("graft-ss-ckpt").toString

    Files.writeString(src.resolve("a.txt"), "l1\nl2\n")
    Streams.ingestFilesOnce(spark, src.toString, dest.toString, ckpt)
    assert(spark.read.parquet(dest.toString).count() == 2)

    // second run: nothing new → no duplicates (the reference needs
    // archive+delete to get this; the checkpoint gives it for free)
    Streams.ingestFilesOnce(spark, src.toString, dest.toString, ckpt)
    assert(spark.read.parquet(dest.toString).count() == 2)

    Files.writeString(src.resolve("b.txt"), "l3\n")
    Streams.ingestFilesOnce(spark, src.toString, dest.toString, ckpt)
    assert(spark.read.parquet(dest.toString).count() == 3)
  }

  test("streaming media decode: each arriving file decoded once; ≡ batch decode") {
    import spark.implicits._
    import graft.ops.Multimodal
    val src = Files.createTempDirectory("graft-md-src")
    val dest = Files.createTempDirectory("graft-md-out").resolve("feats")
    val ckpt = Files.createTempDirectory("graft-md-ckpt").toString
    val media = Multimodal.bmpFixture(spark, sf0001)
      .as[Multimodal.MediaRow].collect().sortBy(_.doc_id)

    // first wave of arrivals
    media.take(5).foreach(r =>
      Files.write(src.resolve(s"${r.doc_id}.bmp"), r.payload))
    Streams.decodeMediaStream(spark, src.toString, dest.toString, ckpt)
    assert(spark.read.parquet(dest.toString).count() == 5)

    // re-poll with nothing new: no re-decode, no duplicates
    Streams.decodeMediaStream(spark, src.toString, dest.toString, ckpt)
    assert(spark.read.parquet(dest.toString).count() == 5)

    // late arrivals: only the new files are decoded
    media.slice(5, 8).foreach(r =>
      Files.write(src.resolve(s"${r.doc_id}.bmp"), r.payload))
    Streams.decodeMediaStream(spark, src.toString, dest.toString, ckpt)
    val streamed = spark.read.parquet(dest.toString)
    assert(streamed.count() == 8)

    // streamed features ≡ the batch decode of the same payloads
    val ids = media.take(8).map(_.doc_id).toSet
    val batch = Multimodal.decodeBmpFeatures(spark,
        Multimodal.bmpFixture(spark, sf0001))
      .filter(org.apache.spark.sql.functions.col("doc_id")
        .isin(ids.toSeq: _*))
      .orderBy("doc_id").collect()
    val got = streamed.drop("file_name").orderBy("doc_id").collect()
    assert(got.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
  }

  test("DSIR gate scores a doc stream bit-identically to the batch t63 weights") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val lam = graft.ops.Text.dsirLambdaArray(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("source") =!= "src0")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = Streams.dsirGate(ms.toDF.toDF("doc_id", "text"), lam, 0.0)
      .writeStream.format("memory").queryName("dsir_gated")
      .outputMode(OutputMode.Append()).start()
    // two micro-batches — the boundary must not affect any weight
    try {
      ms.addData(docs.take(docs.length / 2): _*); q.processAllAvailable()
      ms.addData(docs.drop(docs.length / 2): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dsir_gated").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(streamed.size == docs.length)
    streamed.foreach { case (id, (w, keep)) =>
      assert(keep == (w >= 0.0), s"doc $id flag")
    }
    // the registered t63 selection carries round(w, 6) for its
    // top-200: every selected doc's streamed weight must round to the
    // SAME value (the row-local decimal fold replays the distributed
    // dsum exactly; rounding both to 6 removes only the display hop)
    val batch = SparkEntry.queries("t63_dsir_weights")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    graft.Scoped.release()
    assert(batch.nonEmpty)
    batch.foreach { case (id, w6) =>
      val w = streamed(id)._1
      val r6 = java.math.BigDecimal.valueOf(w)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(r6 == w6, s"doc $id: stream ${w} -> $r6 vs batch $w6")
    }
  }

  test("corpus-trained classifier gates a doc stream; stream preds equal batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // train offline on the full corpus (memoized — same model t29 uses)
    val (w, _, _) = graft.ops.Text.lrModel(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).take(60)
    val ms = MemoryStream[(Long, String)]
    val q = Streams.scoreDocsWithModel(
        ms.toDF.toDF("doc_id", "text"), w)
      .writeStream.format("memory").queryName("gated")
      .outputMode(OutputMode.Append()).start()
    // two micro-batches — the boundary must not affect any score
    try {
      ms.addData(docs.take(30): _*); q.processAllAvailable()
      ms.addData(docs.drop(30): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("gated").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(streamed.size == docs.length)
    // batch t29 over the same corpus: probs equal to the ulp (both
    // sides evaluate the SAME row-local margin expression — no
    // aggregation-order nondeterminism anywhere)
    val batch = SparkEntry.queries("t29_classifier_score")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    streamed.foreach { case (id, (m, pred)) =>
      // batch t29 presents round(margin, 6); the gate emits the raw
      // margin — quantize identically before comparing
      val m6 = java.math.BigDecimal.valueOf(m)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      assert(batch(id)._1 == m6,
        s"doc $id: stream margin $m6 vs ${batch(id)._1}")
      assert(batch(id)._2 == pred)
    }
  }

  test("streaming ANN maintenance: out-of-order micro-batches keep stored search ≡ inline") {
    import spark.implicits._
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    Similarity.clearModels()
    val tmp = Files.createTempDirectory("ann-stream")
    val baseDir = tmp.resolve("base").toString
    val all = Tables.embeddings(spark, sf0001)
    val base = all.filter(col("vec_id") < 400)
    base.write.parquet(s"$baseDir/embeddings.parquet")
    val path = Similarity.codedCorpusPath(spark, baseDir)
    assert(spark.read.parquet(path).count() == 400L)

    // new embeddings arrive as a STREAM, in two micro-batches, out of
    // id order — batch boundaries and arrival order must be invisible
    // to the search
    val delta: Seq[(Long, Seq[Float])] = all.filter(col("vec_id") >= 400)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
    val (late, early) = delta.partition(_._1 % 3 == 0)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = Streams.maintainCodedCorpus(
      ms.toDF.toDF("vec_id", "embedding"), baseDir,
      tmp.resolve("ckpt").toString)
    try {
      ms.addData(early: _*); q.processAllAvailable()
      ms.addData(late: _*); q.processAllAvailable()
    } finally q.stop()

    assert(spark.read.parquet(path).count() == 400L + delta.size)
    // stored search over the maintained table ≡ frozen-model inline
    // over the full corpus, row for row
    val union = all
    val stored = Similarity.ivfPqSearch(spark, baseDir,
      spark.read.parquet(path), union).collect().toSeq
    val inline = Similarity.ivfPqSearch(spark, baseDir,
      Similarity.encodeWith(spark, baseDir, union), union).collect().toSeq
    assert(stored == inline && stored.nonEmpty)
    Similarity.clearModels()
  }

  test("streaming ANN maintenance survives a restart: checkpointed batches never re-append") {
    import spark.implicits._
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    Similarity.clearModels()
    val tmp = Files.createTempDirectory("ann-restart")
    val baseDir = tmp.resolve("base").toString
    val ckpt = tmp.resolve("ckpt").toString
    val all = Tables.embeddings(spark, sf0001)
    all.filter(col("vec_id") < 400).write
      .parquet(s"$baseDir/embeddings.parquet")
    val path = Similarity.codedCorpusPath(spark, baseDir)
    val delta: Seq[(Long, Seq[Float])] = all.filter(col("vec_id") >= 400)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
    val (c1, c2) = delta.splitAt(delta.size / 2)

    // first query: process chunk 1, then STOP (a crash/redeploy)
    val ms1 = MemoryStream[(Long, Seq[Float])]
    val q1 = Streams.maintainCodedCorpus(
      ms1.toDF.toDF("vec_id", "embedding"), baseDir, ckpt)
    try { ms1.addData(c1: _*); q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(path).count() == 400L + c1.size)

    // second query, SAME checkpoint, and the source REPLAYS chunk 1
    // (block 0) before offering chunk 2 (block 1) — exactly what a
    // durable source does after a crash. The committed offset in the
    // checkpoint must skip block 0: only chunk 2 may land, else
    // re-delivery double-encodes every chunk-1 vector.
    val ms2 = MemoryStream[(Long, Seq[Float])]
    ms2.addData(c1: _*) // replayed history
    val q2 = Streams.maintainCodedCorpus(
      ms2.toDF.toDF("vec_id", "embedding"), baseDir, ckpt)
    try { ms2.addData(c2: _*); q2.processAllAvailable() } finally q2.stop()

    val coded = spark.read.parquet(path)
    assert(coded.count() == 400L + delta.size)
    // every vector appears EXACTLY once — no duplicate appends
    assert(coded.groupBy("vec_id").count()
      .filter(col("count") > 1).isEmpty)
    Similarity.clearModels()
  }

  test("streaming SCD2 current rows equal the batch is_current slice") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    implicit val sq = spark.sqlContext
    // the e22 cohort, in the op's total order, split into two
    // event-time-ordered chunks (the session twins' contract)
    val cohort = Tables.events(spark, sf0001)
      .filter(col("user_id") % 50 === 7)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[Streams.ScdEv].collect()
      .sortBy(e => (DateTimeUtils.fromJavaTimestamp(e.ts), e.event_id))
    val (c1, c2) = cohort.splitAt(cohort.length / 2)

    val ms = MemoryStream[Streams.ScdEv]
    val q = Streams.scd2CurrentState(ms.toDS)
      .writeStream.format("memory").queryName("scd2cur")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData(c1.toIndexedSeq)
      q.processAllAvailable()
      ms.addData(c2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    // final state per user = its maximal (seq, n_events) emission
    // (a batch-2 row always dominates the batch-1 row it supersedes)
    val streamed = spark.table("scd2cur").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3), r.getLong(4)))
      .groupBy(_._1).values
      .map(_.maxBy(t => (t._2, t._5))).toSet
    val batch = SparkEntry.queries("e22_scd2_intervals")(spark, sf0001)
      .filter(col("is_current"))
      .select("user_id", "seq", "event_type", "valid_from", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3), r.getLong(4))).toSet
    assert(streamed == batch)
  }

  test("streaming rolling-WAU KMV state equals the batch sketch and exact e26") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val k = 512
    val evs = Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts")).as[Streams.Ev].collect()
    val (c1, c2) = evs.splitAt(evs.length / 2)
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.rollingWauDays(ms.toDS, k)
      .writeStream.format("memory").queryName("wau")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData(c1.toIndexedSeq)
      q.processAllAvailable()
      ms.addData(c2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val latest = spark.table("wau").as[Streams.DayWau].collect()
      .groupBy(_.day).map { case (d, rows) => d -> rows.maxBy(_.version) }
    // state bound: ≤ k hashes per day, no matter the stream length
    latest.values.foreach(r => assert(r.sketch.size <= k))
    // batch sketch twin: the same fan-out folded through the same
    // Aggregator on the driver (order-independent, so fold order is
    // irrelevant) must equal the streamed buffer EXACTLY
    val agg = new graft.functions.Aggregators.Kmv(k)
    val batchSketch = evs.flatMap { e =>
      val day = e.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(e.user_id, 42L)
      (0 until 7).map(off => (day.plusDays(off).toString, h))
    }.groupBy(_._1).map { case (d, rows) =>
      d -> rows.foldLeft(agg.zero) { case (b, (_, h)) => agg.reduce(b, h) }
    }
    assert(latest.keySet == batchSketch.keySet)
    batchSketch.foreach { case (d, sk) =>
      assert(latest(d).sketch == sk, s"day $d sketch diverged") }
    // exact regime: k ≥ distinct users, so on the activity spine the
    // estimate IS the e26 exact WAU
    val exact = SparkEntry.queries("e26_rolling_wau")(spark, sf0001)
      .select("day", "wau").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1))
    assert(exact.nonEmpty)
    exact.foreach { case (d, wau) =>
      assert(latest(d).wau_est == wau.toDouble, s"day $d estimate") }
  }

  test("streaming growth increments ≡ batch e29 on the day spine") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evs = Tables.events(spark, sf0001)
      .select("user_id", "ts").collect()
      .map(r => Streams.Ev(r.getLong(0), r.getTimestamp(1)))
      .sortBy(_.ts.getTime)
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.growthIncrements(ms.toDS)
      .writeStream.format("memory").queryName("growth")
      .outputMode(OutputMode.Append()).start()
    try {
      // day-ordered chunks (event-time order, like a real ingest);
      // a final far-future sentinel pushes the watermark past every
      // pending churn timeout
      evs.grouped(evs.length / 3 + 1)
        .foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
      ms.addData(Streams.Ev(-1L,
        new Timestamp(evs.last.ts.getTime + 5L * 86400000)))
      q.processAllAvailable()
      // state bound: one row per user ever seen (+ sentinel), no
      // matter how many days/batches flowed through — the pending
      // buffer drains as the watermark closes days
      val nUsers = evs.map(_.user_id).distinct.length
      assert(q.lastProgress.stateOperators.head.numRowsTotal
        <= nUsers + 1)
    } finally q.stop()
    val inc = spark.table("growth").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val batch = SparkEntry.queries("e29_growth_accounting")(spark, sf0001)
      .collect().map(r => r.getDate(0).toLocalDate.toEpochDay ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(batch.nonEmpty)
    // on every spine day the streamed increments reproduce the batch
    // decomposition exactly (the sentinel's own "new" day and churn
    // days beyond the spine are exactly what the spine join drops)
    batch.foreach { case (d, (act, nw, ret, res, churned)) =>
      def n(kind: String) = inc.getOrElse((d, kind), 0L)
      assert(n("new") == nw, s"day $d new")
      assert(n("retained") == ret, s"day $d retained")
      assert(n("resurrected") == res, s"day $d resurrected")
      assert(n("churned") == churned, s"day $d churned")
      assert(n("new") + n("retained") + n("resurrected") == act)
    }
    // off-spine noise is only the sentinel and boundary churn
    val spine = batch.keySet
    val offSpine = inc.keys.filterNot(k => spine.contains(k._1)).toSeq
    assert(offSpine.forall { case (_, kind) =>
      kind == "churned" || kind == "new" })
  }

  test("growth increments: disorder inside the watermark never fabricates churn") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // user active days D, D+1 (23:59), D+2 (00:05) — the D+2 event is
    // processed one micro-batch BEFORE the D+1 event, 6 minutes of
    // disorder, inside the 10-minute watermark. Classification must
    // wait for the watermark to close each day: D+1 retained, D+2
    // retained, and NO churn anywhere on the active range.
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.growthIncrements(ms.toDS)
      .writeStream.format("memory").queryName("growth_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(
        Streams.Ev(1, ts("2024-03-10 09:00:00")),
        Streams.Ev(1, ts("2024-03-12 00:05:00")))
      q.processAllAvailable()
      ms.addData(Streams.Ev(1, ts("2024-03-11 23:59:00")))
      q.processAllAvailable()
      // sentinel pushes the watermark far past every pending day
      ms.addData(Streams.Ev(-1L, ts("2024-03-20 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val day0 = java.time.LocalDate.parse("2024-03-10").toEpochDay
    val got = spark.table("growth_ooo").collect()
      .map(r => (r.getLong(0) - day0, r.getString(1))).toSet
    assert(got.contains((0L, "new")))
    assert(got.contains((1L, "retained")), got.toString)
    assert(got.contains((2L, "retained")), got.toString)
    // the only churn is behind the final frontier (day D+3), never
    // inside the active range
    assert(!got.contains((1L, "churned")) && !got.contains((2L, "churned")))
    assert(!got.exists(_._2 == "resurrected"), got.toString)
  }

  test("growth increments: retention horizon retires churned users") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // user 1 active on day 0 only; with a 2-day retention horizon the
    // state row must be REMOVED once the watermark passes
    // churn-day-end + horizon, and a reappearance beyond the horizon
    // classifies as a fresh "new" (the documented trade), never
    // "resurrected"
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.growthIncrements(ms.toDS, retentionDays = Some(2))
      .writeStream.format("memory").queryName("growth_ret")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(Streams.Ev(1, ts("2024-03-10 09:00:00")))
      q.processAllAvailable()
      // closes day 0 and (next batch) fires the day-1 churn timeout;
      // horizon deadline = end(day 1) + 2d = 2024-03-14T00:00
      ms.addData(Streams.Ev(-1L, ts("2024-03-13 00:00:00")))
      q.processAllAvailable()
      // watermark passes the deadline; the batch AFTER that fires the
      // retirement timeout
      ms.addData(Streams.Ev(-2L, ts("2024-03-20 00:00:00")))
      q.processAllAvailable()
      ms.addData(Streams.Ev(-3L, ts("2024-03-21 00:00:00")))
      q.processAllAvailable()
      // user 1 retired: only the three sentinel users hold state
      assert(q.lastProgress.stateOperators.head.numRowsTotal <= 3,
        s"state rows = ${q.lastProgress.stateOperators.head.numRowsTotal}")
      // reappearance beyond the horizon: day 12 (2024-03-22)
      ms.addData(Streams.Ev(1, ts("2024-03-22 09:00:00")))
      q.processAllAvailable()
      ms.addData(Streams.Ev(-4L, ts("2024-03-30 00:00:00")))
      q.processAllAvailable()
      ms.addData(Streams.Ev(-5L, ts("2024-03-31 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val day0 = java.time.LocalDate.parse("2024-03-10").toEpochDay
    val got = spark.table("growth_ret").collect()
      .map(r => (r.getLong(0) - day0, r.getString(1))).toSeq
    assert(got.count(_ == (0L, "new")) == 1, got.toString)
    assert(got.contains((1L, "churned")), got.toString)
    assert(got.contains((12L, "new")), got.toString)
    assert(!got.contains((12L, "resurrected")), got.toString)
  }

  test("bronze change feed: streamed consumption across restarts = one batch readChanges") {
    import spark.implicits._
    import graft.ingest.BronzeMerge
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("graft-cdf")
    val table = tmp.resolve("bronze").toString
    val sink = tmp.resolve("sink").toString
    val ckpt = tmp.resolve("ckpt").toString
    def ts(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    def one(n: String) = Seq((n, n.length.toLong, ts(n.hashCode & 127),
      Array[Byte](1))).toDF("file_name", "length", "modified", "content")
    def drain(): Unit = {
      val q = Streams.bronzeChangeFeed(spark, table)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    def names(p: String) = spark.read.parquet(p)
      .select("file_name").collect().map(_.getString(0)).sorted.toSeq

    BronzeMerge.mergeIngestDf(spark, one("a.txt"), table)
    BronzeMerge.mergeIngestDf(spark, one("b.txt"), table)
    drain()
    assert(names(sink) == Seq("a.txt", "b.txt"))

    // restart with the SAME checkpoint after more commits: only the
    // new version window streams — the offset log, not the caller,
    // remembers the last consumed bronze version
    BronzeMerge.mergeIngestDf(spark, one("c.txt"), table)
    BronzeMerge.mergeIngestDf(spark, one("d.txt"), table)
    drain()
    assert(names(sink) == Seq("a.txt", "b.txt", "c.txt", "d.txt"))

    // a drain with nothing new appends nothing (no re-delivery)
    drain()
    assert(names(sink) == Seq("a.txt", "b.txt", "c.txt", "d.txt"))

    // the streamed union equals ONE batch read of the whole feed
    val head = BronzeMerge.currentCommit(spark, table)._1
    val batchAll = BronzeMerge.readChanges(spark, table, 0, head)
      .select("file_name").collect().map(_.getString(0)).sorted.toSeq
    assert(names(sink) == batchAll)

    // exactly-once composition downstream: the identity-dedup + CDF
    // shape means a re-ingest of an already-seen file adds nothing,
    // and the stream delivers nothing
    BronzeMerge.mergeIngestDf(spark, one("d.txt"), table)
    drain()
    assert(names(sink) == batchAll)
  }

  test("bronze change feed fails loudly when the window rewrites batches") {
    import spark.implicits._
    import graft.ingest.BronzeMerge
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("graft-cdf-rw")
    val table = tmp.resolve("bronze").toString
    def ts(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    def one(n: String) = Seq((n, n.length.toLong, ts(n.hashCode & 127),
      Array[Byte](1))).toDF("file_name", "length", "modified", "content")
    def drain(): Unit = {
      val q = Streams.bronzeChangeFeed(spark, table)
        .writeStream.format("parquet")
        .option("path", tmp.resolve("sink").toString)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    BronzeMerge.mergeIngestDf(spark, one("a.txt"), table)
    BronzeMerge.mergeIngestDf(spark, one("b.txt"), table)
    drain()
    // compaction rewrites the live batch set: the next window cannot
    // be represented as appends and must fail loudly, not silently
    // re-deliver rewritten rows (Delta's own CDF behavior for
    // non-append changes)
    BronzeMerge.compact(spark, table)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg != null && msg.contains("cannot represent"), msg)
  }

  test("bronze change feed: a window spanning schema evolution keeps evolved values") {
    import spark.implicits._
    import graft.ingest.BronzeMerge
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("graft-cdf-evo")
    val table = tmp.resolve("bronze").toString
    val sink = tmp.resolve("sink").toString
    val ckpt = tmp.resolve("ckpt").toString
    def t(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    BronzeMerge.mergeIngestDf(spark,
      Seq(("a.txt", 1L, t(1), Array[Byte](1)))
        .toDF("file_name", "length", "modified", "content"), table)
    BronzeMerge.mergeIngestDf(spark,
      Seq(("b.txt", 2L, t(2), Array[Byte](2), "https://src/b"))
        .toDF("file_name", "length", "modified", "content", "source_url"),
      table)
    // the stream starts AFTER the evolution, so its pinned schema has
    // source_url, and the FIRST AvailableNow drain covers BOTH
    // versions in one getBatch — a schema inferred from one batch's
    // footer would silently null b.txt's source_url
    val q = Streams.bronzeChangeFeed(spark, table)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val rows = spark.read.parquet(sink)
      .select("file_name", "source_url").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows == Map("a.txt" -> None, "b.txt" -> Some("https://src/b")))
  }

  /** A paged window's slice, sorted: the `live` file names or the
    * `dead` ids that `<staging>_window/<side>` holds. */
  private def windowSlice(staging: String, side: String): Seq[String] =
    spark.read.parquet(s"${staging}_window/$side")
      .select(if (side == "live") "file_name" else "source_item_id")
      .collect().map(_.getString(0)).sorted.toSeq

  test("incremental discovery: round 2 stages only the delta; AvailableNow drains only the new rows") {
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import graft.pipeline.HttpListing.{HttpResponse, Transport}
    val base = "https://graph.example.test/drives/d2"
    val delta1 = s"$base/root/delta?token=T1"
    val delta2 = s"$base/root/delta?token=T2"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,
         |"file":{"mimeType":"text/plain"},
         |"parentReference":{"path":"/drives/d2/root:/in"}}"""
        .stripMargin.replace("\n", "")
    val script = Map(
      s"$base/root/delta" -> HttpResponse(200,
        s"""{"value":[${item("i1", "a.txt", 3)},${item("i2", "b.txt", 5)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", "")),
      delta1 -> HttpResponse(200,
        s"""{"value":[${item("i3", "c.txt", 7)}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", "")))
    val calls = scala.collection.mutable.Buffer[String]()
    val transport = new Transport {
      override def get(url: String): HttpResponse = {
        calls += url
        script.getOrElse(url, throw new AssertionError(s"unexpected $url"))
      }
    }
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-discover").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val sink = s"$work/sink"
    val sckpt = s"$work/stream-ckpt"

    // the AvailableNow consumer over the staged catalog — its own
    // streaming checkpoint makes each drain read only NEW files
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("mime",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("size",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("deleted",
        org.apache.spark.sql.types.BooleanType)))
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(staging)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", sckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }

    // round 1: initial sync stages the full catalog, drain lands it
    val r1 = Streams.discoverIncrementPaged(spark, prov, ck, staging)
    assert(r1 == ((2L, 0L)))
    assert(windowSlice(staging, "live") == Seq("a.txt", "b.txt"))
    drain()
    assert(spark.read.parquet(sink).count() == 2)

    // round 2: the provider is asked ONLY for the delta (checkpointed
    // deltaLink), the staging append carries only c.txt, and the
    // drain's streaming checkpoint reads only the new file
    val r2 = Streams.discoverIncrementPaged(spark, prov, ck, staging)
    assert(r2 == ((1L, 0L)))
    assert(windowSlice(staging, "live") == Seq("c.txt"))
    assert(calls.count(_ == s"$base/root/delta") == 1,
      "round 2 must ride the deltaLink, not the initial URL")
    drain()
    val names = spark.read.parquet(sink).select("name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("a.txt", "b.txt", "c.txt"))
    assert(ck.load().contains(delta2))
  }

  test("tombstone propagation: a delta-sync deletion reaches bronze as a " +
      "logged remove, and redelivery cannot resurrect the row") {
    import graft.ingest.{BronzeMerge, DeltaLog}
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import graft.pipeline.HttpListing.{HttpResponse, Transport}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = "https://graph.example.test/drives/d3"
    val delta1 = s"$base/root/delta?token=D1"
    val delta2 = s"$base/root/delta?token=D2"
    val delta3 = s"$base/root/delta?token=D3"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,
         |"file":{"mimeType":"text/plain"},
         |"parentReference":{"path":"/drives/d3/root:/in"}}"""
        .stripMargin.replace("\n", "")
    // Graph tombstone: deleted facet, no file facet, id+name identity
    def tomb(id: String, name: String) =
      s"""{"id":"$id","name":"$name","deleted":{"state":"deleted"}}"""
    val script = Map(
      s"$base/root/delta" -> HttpResponse(200,
        s"""{"value":[${item("i1", "a.txt", 3)},${item("i2", "b.txt", 5)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", "")),
      delta1 -> HttpResponse(200,
        s"""{"value":[${tomb("i2", "b.txt")}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", "")),
      // round 3: a FOLDER named like the surviving ingested file is
      // deleted (folder tombstones are indistinguishable from file
      // tombstones — id+name only), plus a tombstone for an item this
      // pipeline never ingested; neither may touch bronze
      delta2 -> HttpResponse(200,
        s"""{"value":[${tomb("folder9", "a.txt")},${tomb("i99", "z.txt")}],
           |"@odata.deltaLink":"$delta3"}""".stripMargin.replace("\n", "")))
    val transport = new Transport {
      override def get(url: String): HttpResponse =
        script.getOrElse(url, throw new AssertionError(s"unexpected $url"))
    }
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-tombstone").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    // the blob-fetch stand-in: land whatever the sync staged,
    // CARRYING the staged item id into bronze (the id-keyed delete
    // contract — the drain fetched the blob by id, so it knows it)
    def ingestStaged(): Unit = {
      val staged = spark.read.parquet(staging)
        .select(col("id"), col("name"), col("size")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), ts(1),
          r.getString(1).getBytes("UTF-8")))
        .toSeq.toDF("source_item_id", "file_name", "length",
          "modified", "content")
      BronzeMerge.mergeIngestDf(spark, staged, table)
    }
    def liveNames() = BronzeMerge.snapshotLatest(spark, table)
      .select("file_name").collect().map(_.getString(0)).sorted.toSeq

    // round 1: initial sync lands N = 2 files in bronze
    Streams.discoverIncrementPaged(spark, prov, ck, staging, Some(table))
    ingestStaged()
    assert(liveNames() == Seq("a.txt", "b.txt"))

    // round 2: the incremental sync sees ONE deletion — bronze must
    // end at N − 1 live rows with nothing new staged
    val r2 = Streams.discoverIncrementPaged(spark, prov, ck, staging,
      Some(table))
    assert(r2 == ((0L, 1L)) && windowSlice(staging, "dead") == Seq("i2"))
    assert(liveNames() == Seq("a.txt"))

    // the _delta_log replays to the post-delete state and the
    // deleting commit carries an explicit remove action
    assert(DeltaLog.read(spark, table).select("file_name")
      .collect().map(_.getString(0)).toSeq == Seq("a.txt"))
    val logDir = java.nio.file.Paths.get(table, "_delta_log")
    val lastLog = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(logDir).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq
        .sorted.last
    }
    assert(java.nio.file.Files.readString(logDir.resolve(lastLog))
      .contains(""""remove""""), s"no remove action in $lastLog")

    // redelivery of the deleted ITEM's blob (same id, same identity
    // key) must be rejected by the retained keys — deletion cannot be
    // undone by an at-least-once upstream replay
    val redelivered = Seq(("i2", "b.txt", 5L, ts(1),
      "b.txt".getBytes("UTF-8")))
      .toDF("source_item_id", "file_name", "length", "modified",
        "content")
    assert(BronzeMerge.mergeIngestDf(spark, redelivered, table) == 0L)
    assert(liveNames() == Seq("a.txt"))

    // and a replayed tombstone window (crash between delete and
    // checkpoint save) re-runs as a no-op
    val (verBefore, _) = BronzeMerge.currentCommit(spark, table)
    val (verAfter, n) = BronzeMerge.deleteWhere(spark, table,
      col(BronzeMerge.IdCol).isin("i2"))
    assert(verAfter == verBefore && n == 0L)

    // round 3: a deleted FOLDER whose name collides with the
    // surviving ingested file, plus a never-ingested item's
    // tombstone — deletes are keyed on the bronze rows' OWN
    // source_item_id, so neither dead id matches a row and a.txt
    // survives
    val r3 = Streams.discoverIncrementPaged(spark, prov, ck, staging,
      Some(table))
    assert(r3 == ((0L, 2L)) &&
      windowSlice(staging, "dead") == Seq("folder9", "i99"))
    assert(liveNames() == Seq("a.txt"),
      "a folder tombstone must not delete a same-named ingested file")
    val (verFinal, _) = BronzeMerge.currentCommit(spark, table)
    assert(verFinal == verBefore, "no bronze commit for no-op tombstones")
  }

  test("tombstone churn: one window carrying a delete AND a re-create of " +
      "the same name (new item id) kills only the old item's rows; two " +
      "same-name SAME-SIZE files in different folders delete independently") {
    // the reference's archive/re-upload cycle, adversarially ordered:
    // the SAME incremental window deletes f.txt (old id) and re-creates
    // f.txt (new id, new size). Bronze rows carry source_item_id and
    // deletes key on it, so exactly the old item's rows die and the
    // re-created file lands untouched. A second pair pins the case the
    // old name+size heuristic could never attribute: two live
    // same-name SAME-SIZE items in different folders — deleting one
    // kills exactly ITS rows while the other folder's file survives
    // (previously a permanently BLOCKED delete; now a direct key
    // match). A byte-identical same-window re-create then pins that
    // the retained id-qualified key blocks only the DEAD item's blob
    // redelivery, not the fresh id's identical bytes — no tombstone
    // sidecar, no claims bookkeeping.
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import graft.pipeline.HttpListing.{HttpResponse, Transport}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = "https://graph.example.test/drives/d4"
    val delta1 = s"$base/root/delta?token=E1"
    val delta2 = s"$base/root/delta?token=E2"
    val delta3 = s"$base/root/delta?token=E3"
    val delta4 = s"$base/root/delta?token=E4"
    def item(id: String, name: String, size: Long, dir: String = "in") =
      s"""{"id":"$id","name":"$name","size":$size,
         |"file":{"mimeType":"text/plain"},
         |"parentReference":{"path":"/drives/d4/root:/$dir"}}"""
        .stripMargin.replace("\n", "")
    def tomb(id: String, name: String) =
      s"""{"id":"$id","name":"$name","deleted":{"state":"deleted"}}"""
    val script = Map(
      s"$base/root/delta" -> HttpResponse(200,
        s"""{"value":[${item("i1", "f.txt", 9)},
           |${item("i5", "shared.txt", 7)},
           |${item("i6", "shared.txt", 7, dir = "other")}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", "")),
      // THE churn window: tombstone for the old f.txt id, the
      // re-created f.txt under a NEW id (different size), and a
      // tombstone for ONE of the two same-name same-size items
      delta1 -> HttpResponse(200,
        s"""{"value":[${tomb("i1", "f.txt")},
           |${item("i2", "f.txt", 12)},
           |${tomb("i5", "shared.txt")}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", "")),
      // a SECOND churn generation, byte-identical this time: i2 dies
      // and i3 re-creates the same (name, size) in one window…
      delta2 -> HttpResponse(200,
        s"""{"value":[${tomb("i2", "f.txt")},
           |${item("i3", "f.txt", 12)}],
           |"@odata.deltaLink":"$delta3"}""".stripMargin.replace("\n", "")),
      // …and later i3 dies too. Under id-keyed deletes this needs no
      // history bookkeeping at all: i3's row carries i3's id.
      delta3 -> HttpResponse(200,
        s"""{"value":[${tomb("i3", "f.txt")}],
           |"@odata.deltaLink":"$delta4"}""".stripMargin.replace("\n", "")))
    val transport = new Transport {
      override def get(url: String): HttpResponse =
        script.getOrElse(url, throw new AssertionError(s"unexpected $url"))
    }
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-churn").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    // blob-parity stand-in carrying the staged item id into bronze
    // (the id-keyed delete contract). distinct(): the append-only
    // staging catalog re-offers prior windows' rows on every drain —
    // the retained id-qualified keys make those re-offers no-ops.
    def ingestStaged(round: Int): Unit = {
      val staged = spark.read.parquet(staging)
        .select(col("id"), col("name"), col("size")).distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), ts(round),
          Array.fill(r.getLong(2).toInt)('x'.toByte)))
        .toSeq.toDF("source_item_id", "file_name", "length",
          "modified", "content")
      BronzeMerge.mergeIngestDf(spark, staged, table)
    }
    def rows() = BronzeMerge.snapshot(spark, table)
      .select("source_item_id", "file_name", "length").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq

    // round 1: three files land as three rows — the same-name
    // same-size pair stays TWO rows because the merge key carries
    // the source item id
    Streams.discoverIncrementPaged(spark, prov, ck, staging, Some(table))
    ingestStaged(1)
    assert(rows() == Seq(("i1", "f.txt", 9L), ("i5", "shared.txt", 7L),
      ("i6", "shared.txt", 7L)))

    // round 2, BEFORE the drain lands the re-created blob: the churn
    // window's deletes have fired — i1's rows AND i5's rows are gone,
    // and i6's same-name same-size rows in the other folder are
    // untouched (the case the name+size heuristic had to skip)
    val r2 = Streams.discoverIncrementPaged(spark, prov, ck, staging,
      Some(table))
    assert(r2 == ((1L, 2L)))
    assert(rows() == Seq(("i6", "shared.txt", 7L)),
      "exactly the dead ids' rows die; the other folder's twin survives")

    // the drain lands the re-created f.txt (new id ⇒ new identity
    // key) while the retained id-qualified keys keep blocking the
    // replayed i1/i5 blobs the append-only catalog still offers
    ingestStaged(1)
    assert(rows() == Seq(("i2", "f.txt", 12L), ("i6", "shared.txt", 7L)),
      "the re-created file survives its predecessor's tombstone")
    // and the merge-on-read view resolves f.txt to the NEW generation
    val latest = BronzeMerge.snapshotLatest(spark, table)
      .filter(col("file_name") === "f.txt")
      .select("length").collect().map(_.getLong(0)).toSeq
    assert(latest == Seq(12L))

    // second churn generation, BYTE-IDENTICAL: i2 dies and i3
    // re-creates the same (name, size) in the same window — i2's row
    // dies on its id, and i3's identical bytes land as a NEW identity
    // (the retained key blocks only the DEAD item's redelivery)
    Streams.discoverIncrementPaged(spark, prov, ck, staging, Some(table))
    ingestStaged(1)
    assert(rows() == Seq(("i3", "f.txt", 12L), ("i6", "shared.txt", 7L)),
      "a byte-identical re-create lands under its fresh id")

    // final window: i3 dies — a direct key match, no history
    // bookkeeping needed for generations of same-identity churn
    Streams.discoverIncrementPaged(spark, prov, ck, staging, Some(table))
    assert(rows() == Seq(("i6", "shared.txt", 7L)))
  }

  test("mass tombstones: a 100k-tombstone window (deleted source folder) " +
      "deletes via the keys-DataFrame anti-join, never a literal " +
      "predicate, and exactly the ingested dead ids' rows die") {
    // the scale shape VERDICT r13 flagged: a deleted source FOLDER can
    // tombstone every item under it in ONE delta window. The dead ids
    // must stay a DataFrame and the delete must be an anti-join — a
    // 100k-term isin would build a 100k-literal expression tree (and
    // r12's per-identity Or chain before it overflowed the analyzer).
    // Bounded driver memory here means: the ids arrive page by page,
    // land as the window's dead relation, and are never expanded into
    // an expression or per-id plan nodes.
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import graft.pipeline.HttpListing.{HttpResponse, Transport}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = "https://graph.example.test/drives/d5"
    val delta1 = s"$base/root/delta?token=M1"
    val delta2 = s"$base/root/delta?token=M2"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d5/root:/folder"}}"""
    def tomb(id: String) =
      s"""{"id":"$id","name":"x","deleted":{"state":"deleted"}}"""
    val nIngested = 300
    val nDeadIngested = 150 // d0..d149 die, d150..d299 survive
    val nTombs = 100000 // d0..d149 + 99_850 never-ingested ids
    val initial = (0 until nIngested)
      .map(i => item(s"d$i", s"file$i.txt", i + 1)).mkString(",")
    val tombs = ((0 until nDeadIngested).map(i => s"d$i") ++
      (0 until (nTombs - nDeadIngested)).map(i => s"z$i"))
      .map(tomb).mkString(",")
    val script = Map(
      s"$base/root/delta" -> HttpResponse(200,
        s"""{"value":[$initial],"@odata.deltaLink":"$delta1"}"""),
      delta1 -> HttpResponse(200,
        s"""{"value":[$tombs],"@odata.deltaLink":"$delta2"}"""))
    val transport = new Transport {
      override def get(url: String): HttpResponse =
        script.getOrElse(url, throw new AssertionError(s"unexpected $url"))
    }
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-mass-tomb").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    val ts0 = new java.sql.Timestamp(1700000000000L)

    Streams.discoverIncrementPaged(spark, prov, ck, staging, Some(table))
    val staged = spark.read.parquet(staging)
      .select(col("id"), col("name"), col("size")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), ts0,
        Array.fill(r.getLong(2).toInt)('x'.toByte)))
      .toSeq.toDF("source_item_id", "file_name", "length",
        "modified", "content")
    assert(BronzeMerge.mergeIngestDf(spark, staged, table) == nIngested)

    val dead = Streams.discoverIncrementPaged(spark, prov, ck, staging,
      Some(table))
    assert(dead == ((0L, nTombs.toLong)))
    val survivors = BronzeMerge.snapshot(spark, table)
      .select("source_item_id").collect().map(_.getString(0)).toSet
    assert(survivors.size == nIngested - nDeadIngested)
    assert((0 until nDeadIngested).forall(i => !survivors.contains(s"d$i")),
      "every ingested dead id's rows are gone")
    assert((nDeadIngested until nIngested)
      .forall(i => survivors.contains(s"d$i")),
      "no survivor was collaterally deleted")
  }

  test("syncToBronzePaged: the full incremental loop — changed blobs land by " +
      "id executor-side, an update re-lands, the tombstone deletes, and " +
      "a replayed drain is a no-op") {
    // the reference's whole sync (`sharepoint_to_bronze_delta.py:
    // 237-277`) as ONE call: delta window → staged catalog → blob
    // fetch BY ITEM ID (/items/<id>/content, chunked range-GET on
    // executors) → id-carrying merge → id-keyed tombstone delete →
    // checkpoint. The scripted transport serves generation-dependent
    // content so the update window proves the drain fetches CURRENT
    // bytes and keys the row off the fetched length.
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import graft.pipeline.HttpListing.{HttpResponse, Transport}
    import org.apache.spark.sql.functions.col
    val base = "https://graph.example.test/drives/d6"
    val delta1 = s"$base/root/delta?token=S1"
    val delta2 = s"$base/root/delta?token=S2"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d6/root:/in"}}"""
    def tomb(id: String, name: String) =
      s"""{"id":"$id","name":"$name","deleted":{"state":"deleted"}}"""
    // top-level class + module-held generation flag: the transport
    // serializes into executor fetch tasks, so it must not capture
    // the (non-serializable) suite as $outer
    SyncGen.n = 1
    val transport = new SyncScriptTransport(base, Map(
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "a.txt", 3)},
           |${item("i2", "b.txt", 5)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""),
      delta1 ->
        s"""{"value":[${item("i1", "a.txt", 6)},${tomb("i2", "b.txt")}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", "")))
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-sync").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    def rows() = BronzeMerge.snapshot(spark, table)
      .select("source_item_id", "file_name", "length", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        new String(r.getAs[Array[Byte]](3), "UTF-8"))).sorted.toSeq

    // window 1: both files land with their ids, content = real bytes
    val w1 = Streams.syncToBronzePaged(spark, prov, ck, staging, transport,
      base, table)
    assert(w1 == ((2L, 0L)))
    assert(rows() == Seq(("i1", "a.txt", 3L, "aaa"),
      ("i2", "b.txt", 5L, "bbbbb")))

    // window 2: i1's content changed upstream; the drain fetches the
    // CURRENT bytes (new generation lands beside the old — both are
    // history under the merge key) and i2's tombstone deletes its rows
    SyncGen.n = 2
    val w2 = Streams.syncToBronzePaged(spark, prov, ck, staging, transport,
      base, table)
    assert(w2 == ((1L, 1L)))
    assert(rows() == Seq(("i1", "a.txt", 3L, "aaa"),
      ("i1", "a.txt", 6L, "aaaaaa")))
    // merge-on-read resolves a.txt to the updated generation
    val latest = BronzeMerge.snapshotLatest(spark, table)
      .select("file_name", "length").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(latest == Seq(("a.txt", 6L)))

    // crash replay of window 2's drain (restart between drain and
    // checkpoint): re-fetches, re-lands NOTHING — at-least-once fetch,
    // exactly-once rows
    assert(Streams.drainItems(spark, transport, base,
      spark.read.parquet(s"${staging}_window/live"), table) == 0L)
    assert(rows().size == 2)
  }

  test("syncToBronzePaged: a multi-page window streams page-by-page — " +
      "the window never exists as a driver Seq, the drain consumes the " +
      "window relation, and the delete is always the anti-join form") {
    // the O(page) driver-memory variant: pages land in the staging
    // catalog and a window-scoped (live, dead) pair of relations as
    // they arrive; the drain and the tombstone delete then run over
    // RELATIONS — no threshold, no literal predicate, no driver list
    // of the window (the last O(window) driver bound SCALE.md names).
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import org.apache.spark.sql.functions.col
    val base = "https://graph.example.test/drives/d7"
    val delta1 = s"$base/root/delta?token=P1"
    val delta2 = s"$base/root/delta?token=P2"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d7/root:/in"}}"""
    def tomb(id: String, name: String) =
      s"""{"id":"$id","name":"$name","deleted":{"state":"deleted"}}"""
    val transport = new PagedScriptTransport(Map(
      // window 1, page 1 → nextLink → page 2 → deltaLink
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "a.txt", 3)},${item("i2", "b.txt", 5)}],
           |"@odata.nextLink":"$base/root/delta?page=2"}"""
          .stripMargin.replace("\n", ""),
      s"$base/root/delta?page=2" ->
        s"""{"value":[${item("i3", "c.txt", 4)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""),
      // window 2: a tombstone page, then a new-file page
      delta1 ->
        s"""{"value":[${tomb("i1", "a.txt")}],
           |"@odata.nextLink":"$base/root/delta?page=4"}"""
          .stripMargin.replace("\n", ""),
      s"$base/root/delta?page=4" ->
        s"""{"value":[${item("i4", "d.txt", 2)}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", "")),
      Map(
        s"$base/items/i1/content" -> "aaa",
        s"$base/items/i2/content" -> "bbbbb",
        s"$base/items/i3/content" -> "cccc",
        s"$base/items/i4/content" -> "dd"))
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-paged").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    def rows() = BronzeMerge.snapshot(spark, table)
      .select("source_item_id", "file_name", "length").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq

    // window 1: two pages, three files — all land with their ids
    val (l1, d1) = Streams.syncToBronzePaged(spark, prov, ck, staging,
      transport, base, table)
    assert((l1, d1) == (3L, 0L))
    assert(rows() == Seq(("i1", "a.txt", 3L), ("i2", "b.txt", 5L),
      ("i3", "c.txt", 4L)))
    // the window slice holds exactly this window's (id, name) rows
    assert(spark.read.parquet(s"${staging}_window/live").count() == 3)

    // window 2: i1's tombstone page + i4's new-file page. The delete
    // runs as the anti-join over the dead relation (no threshold
    // branch exists on this path) and exactly i1's rows die.
    val (l2, d2) = Streams.syncToBronzePaged(spark, prov, ck, staging,
      transport, base, table)
    assert((l2, d2) == (1L, 1L))
    assert(rows() == Seq(("i2", "b.txt", 5L), ("i3", "c.txt", 4L),
      ("i4", "d.txt", 2L)))
    // window dirs were reset: the slice now holds ONLY window 2
    assert(spark.read.parquet(s"${staging}_window/live").count() == 1)
    assert(spark.read.parquet(s"${staging}_window/dead")
      .collect().map(_.getString(0)).toSeq == Seq("i1"))
    // the append-only staging catalog accumulated all four lives
    assert(spark.read.parquet(staging).select("id").distinct().count() == 4)
  }

  test("sync fault injection: a failed blob fetch aborts the window " +
      "BEFORE the checkpoint advances, and the retry replays it to the " +
      "uninterrupted result") {
    // C3/C4 on the drain path: the drain hook runs before
    // checkpoint.save, so a terminal fetch error (here a 500 the
    // retry policy exhausts) fails the whole sync call, the deltaLink
    // stays un-advanced, and the next scheduled run re-syncs the SAME
    // window — landing exactly what the uninterrupted run would have.
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    val base = "https://graph.example.test/drives/d8"
    val delta1 = s"$base/root/delta?token=F1"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d8/root:/in"}}"""
    val script = Map(
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "a.txt", 3)},${item("i2", "b.txt", 5)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""))
    val content = Map(
      s"$base/items/i1/content" -> "aaa",
      s"$base/items/i2/content" -> "bbbbb")
    FetchOutage.broken = true // i2's content GET returns terminal 500s
    val transport = new OutageScriptTransport(script, content,
      s"$base/items/i2/content")
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-sync-fault").toString
    val staging = s"$work/staging"
    val ckDir = s"$work/delta-ckpt"
    val table = s"$work/bronze"

    // attempt 1: the drain dies on i2's fetch; the sync call fails
    // loudly and the checkpoint records NOTHING
    intercept[Exception] {
      Streams.syncToBronzePaged(spark, new DeltaListingProvider(base,
        transport, sleeper = _ => ()), new DeltaCheckpoint(ckDir),
        staging, transport, base, table,
        policy = graft.pipeline.HttpListing.RetryPolicy(maxRetries = 1,
          baseDelayMs = 0))
    }
    assert(new DeltaCheckpoint(ckDir).load().isEmpty,
      "a failed window must not advance the deltaLink")

    // the outage ends; the scheduled re-run replays the SAME window
    // (from no deltaLink — the checkpoint never moved) and converges on the
    // uninterrupted result, with i1's possibly-landed rows deduped by
    // the id-qualified merge keys
    FetchOutage.broken = false
    val w = Streams.syncToBronzePaged(spark, prov,
      new DeltaCheckpoint(ckDir), staging, transport, base, table)
    assert(w == ((2L, 0L)))
    assert(new DeltaCheckpoint(ckDir).load().contains(delta1))
    val rows = BronzeMerge.snapshot(spark, table)
      .select("source_item_id", "file_name").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq(("i1", "a.txt"), ("i2", "b.txt")))
  }

  test("drain quarantine: a PERMANENTLY failing blob is parked, the " +
      "window commits and the deltaLink advances, later windows keep " +
      "retrying it, and when the outage ends it lands — the reference's " +
      "per-file skip-and-continue (C2)") {
    // round-14's fault-injection spec pins the DEFAULT (fail-loud)
    // mode: a fetch error freezes the checkpoint for replay-to-
    // success. That inverts the reference's C2 for a POISON item —
    // one forever-failing blob wedges ingestion for good. With
    // quarantineDir set, the failure is captured INSIDE the fetch
    // partition, parked, and the window commits; every later window
    // retries the parked set alongside its own items.
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    val base = "https://graph.example.test/drives/d9"
    val delta1 = s"$base/root/delta?token=QA1"
    val delta2 = s"$base/root/delta?token=QA2"
    val delta3 = s"$base/root/delta?token=QA3"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d9/root:/in"}}"""
    val script = Map(
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "a.txt", 3)},${item("i2", "b.txt", 5)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""),
      delta1 ->
        s"""{"value":[${item("i3", "c.txt", 4)}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", ""),
      delta2 ->
        s"""{"value":[],"@odata.deltaLink":"$delta3"}""")
    val content = Map(
      s"$base/items/i1/content" -> "aaa",
      s"$base/items/i2/content" -> "bbbbb",
      s"$base/items/i3/content" -> "cccc")
    val transport = new OutageScriptTransport(script, content,
      s"$base/items/i2/content")
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-quarantine").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    val qdir = s"$work/quarantine"
    val policy = graft.pipeline.HttpListing.RetryPolicy(maxRetries = 1,
      baseDelayMs = 0)
    def ids() = BronzeMerge.snapshot(spark, table)
      .select("source_item_id").collect().map(_.getString(0)).toSeq.sorted

    // window 1: i2's GET serves terminal 500s — i1 lands, i2 is
    // PARKED, and the window still commits
    FetchOutage.broken = true
    Streams.syncToBronzePaged(spark, prov, ck, staging, transport, base,
      table, policy = policy, quarantineDir = Some(qdir))
    assert(ck.load().contains(delta1),
      "the window must commit despite the poison item")
    assert(ids() == Seq("i1"))
    val parked = Streams.readQuarantine(spark, qdir)
    assert(parked.map(_.source_item_id) == Seq("i2"))
    assert(parked.head.file_name == "b.txt" &&
      parked.head.error.contains("500"))

    // window 2, outage STILL on: i3 lands, i2 was retried and stays
    // parked, the deltaLink keeps advancing — no livelock
    Streams.syncToBronzePaged(spark, prov, ck, staging, transport, base,
      table, policy = policy, quarantineDir = Some(qdir))
    assert(ck.load().contains(delta2))
    assert(ids() == Seq("i1", "i3"))
    assert(Streams.readQuarantine(spark, qdir)
      .map(_.source_item_id) == Seq("i2"))

    // window 3 is EMPTY upstream, but the retry loop still drains the
    // parked set: the outage has ended, i2 lands in one new bronze
    // version, quarantine empties
    FetchOutage.broken = false
    val version = BronzeMerge.currentCommit(spark, table)._1
    Streams.syncToBronzePaged(spark, prov, ck, staging, transport, base,
      table, policy = policy, quarantineDir = Some(qdir))
    assert(ck.load().contains(delta3))
    assert(ids() == Seq("i1", "i2", "i3"))
    assert(BronzeMerge.currentCommit(spark, table)._1 == version + 1)
    assert(Streams.readQuarantine(spark, qdir).isEmpty)
  }

  test("drain quarantine: a window with live items AND a recovering " +
      "parked item lands both in ONE commit and empties the quarantine") {
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    val base = "https://graph.example.test/drives/d10"
    val delta1 = s"$base/root/delta?token=QB1"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d10/root:/in"}}"""
    val script = Map(
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "a.txt", 3)},${item("i2", "b.txt", 5)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""),
      delta1 ->
        s"""{"value":[${item("i3", "c.txt", 4)},${item("i4", "d.txt", 2)}],
           |"@odata.deltaLink":"$base/root/delta?token=QB2"}"""
          .stripMargin.replace("\n", ""))
    val content = Map(
      s"$base/items/i1/content" -> "aaa",
      s"$base/items/i2/content" -> "bbbbb",
      s"$base/items/i3/content" -> "cccc",
      s"$base/items/i4/content" -> "dd")
    val transport = new OutageScriptTransport(script, content,
      s"$base/items/i2/content")
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-quarantine-mix").toString
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    val qdir = s"$work/quarantine"
    def window() = Streams.syncToBronzePaged(spark, prov, ck,
      s"$work/staging", transport, base, table,
      policy = graft.pipeline.HttpListing.RetryPolicy(maxRetries = 1,
        baseDelayMs = 0), quarantineDir = Some(qdir))
    FetchOutage.broken = true
    try window() finally FetchOutage.broken = false
    assert(Streams.readQuarantine(spark, qdir).map(_.source_item_id) ==
      Seq("i2"))
    val version = BronzeMerge.currentCommit(spark, table)._1
    assert(window() == ((2L, 0L)))
    assert(BronzeMerge.currentCommit(spark, table)._1 == version + 1,
      "the live fetch and the recovered item must share one commit")
    assert(Streams.readQuarantine(spark, qdir).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(qdir)))
    val rows = BronzeMerge.snapshot(spark, table)
      .select("source_item_id", "file_name", "length").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(rows == Seq(("i1", "a.txt", 3L), ("i2", "b.txt", 5L),
      ("i3", "c.txt", 4L), ("i4", "d.txt", 2L)))
    // the recovered rows keep the fetch path's footer schema
    def rowSchemas(batch: String): Set[String] =
      new java.io.File(s"$table/$batch").listFiles().toSet
        .filter(_.getName.endsWith(".parquet")).map { f =>
          org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            new org.apache.hadoop.conf.Configuration(),
            new org.apache.hadoop.fs.Path(f.toString)).getFileMetaData
            .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
        }
    assert(rowSchemas("batch-00000002") == rowSchemas("batch-00000001"))
  }

  /** A paged drive for the quarantine and job-budget specs: windows 1-3
    * create one batch each (i1 + the poison i2, then i3, then i4),
    * window 4 is idle, window 5 tombstones i1, i4 and the parked i2. */
  private def poisonDrive(drive: String) = {
    val base = s"https://graph.example.test/drives/$drive"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        s""""parentReference":{"path":"/drives/$drive/root:/in"}}"""
    def tomb(id: String) =
      s"""{"id":"$id","name":"$id.txt","deleted":{"state":"deleted"}}"""
    def page(items: Seq[String], next: Int) =
      s"""{"value":[${items.mkString(",")}],""" +
        s""""@odata.deltaLink":"$base/root/delta?token=T$next"}"""
    val script = Map(
      s"$base/root/delta" ->
        page(Seq(item("i1", "a.txt", 3), item("i2", "b.txt", 5)), 1),
      s"$base/root/delta?token=T1" -> page(Seq(item("i3", "c.txt", 4)), 2),
      s"$base/root/delta?token=T2" -> page(Seq(item("i4", "d.txt", 2)), 3),
      s"$base/root/delta?token=T3" -> page(Nil, 4),
      s"$base/root/delta?token=T4" ->
        page(Seq(tomb("i1"), tomb("i4"), tomb("i2")), 5))
    val content = Map(
      s"$base/items/i1/content" -> "aaa",
      s"$base/items/i3/content" -> "cccc",
      s"$base/items/i4/content" -> "dd")
    val transport = new PoisonScriptTransport(script, content,
      Set(s"$base/items/i2/content"))
    val work = Files.createTempDirectory(s"graft-$drive").toString
    val ck = new graft.pipeline.DeltaCheckpoint(s"$work/delta-ckpt")
    val prov = new graft.pipeline.DeltaListingProvider(base, transport,
      sleeper = _ => ())
    val table = s"$work/bronze"
    val qdir = s"$work/quarantine"
    val window = () => Streams.syncToBronzePaged(spark, prov, ck,
      s"$work/staging", transport, base, table,
      policy = graft.pipeline.HttpListing.RetryPolicy(maxRetries = 1,
        baseDelayMs = 0), quarantineDir = Some(qdir))
    (window, table, qdir)
  }

  test("quarantine state: an idle window whose parked set is unchanged " +
      "leaves the quarantine files untouched; a tombstone still clears " +
      "the parked id") {
    import graft.ingest.BronzeMerge
    val (window, table, qdir) = poisonDrive("dq1")
    def qfiles(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(qdir)).iterator().asScala
        .map(p => p.getFileName.toString ->
          Files.getLastModifiedTime(p).toMillis).toMap
    }
    (1 to 3).foreach(_ => window())
    assert(Streams.readQuarantine(spark, qdir).map(_.source_item_id) ==
      Seq("i2"))
    val parked = qfiles()
    Thread.sleep(20) // a rewrite would now carry a later mtime
    assert(window() == ((0L, 0L)))
    assert(qfiles() == parked, "an unchanged parked set was rewritten")
    assert(Streams.readQuarantine(spark, qdir).map(_.source_item_id) ==
      Seq("i2"))
    // the tombstone window drops the parked id and the bronze rows
    assert(window() == ((0L, 3L)))
    assert(Streams.readQuarantine(spark, qdir).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(qdir)))
    assert(BronzeMerge.snapshot(spark, table).select("source_item_id")
      .collect().map(_.getString(0)).toSeq == Seq("i3"))
  }

  test("job budget: an idle window with one parked item and a tombstone " +
      "window over three batches stay within their Spark job counts") {
    // each ceiling is its window path's job count: an inference or
    // count job slipped back into either path fails here instead of
    // silently costing every scheduled tick
    import graft.ingest.BronzeMerge
    val (window, table, qdir) = poisonDrive("dq2")
    (1 to 3).foreach(_ => window())
    assert(BronzeMerge.currentCommit(spark, table)._2.size == 3)
    val idle = jobsIn(window())
    val tomb = jobsIn(window())
    assert(BronzeMerge.snapshot(spark, table).select("source_item_id")
      .collect().map(_.getString(0)).toSeq == Seq("i3"))
    assert(Streams.readQuarantine(spark, qdir).isEmpty)
    info(s"idle window: $idle jobs, tombstone window: $tomb jobs")
    assert(idle == 0, s"idle window ran $idle jobs")
    assert(tomb <= 7, s"tombstone window ran $tomb jobs")
  }

  test("job budget: staging a 2-page window with a no-op drain runs no " +
      "Spark job — one driver-written file per page per slice") {
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    val base = "https://graph.example.test/drives/d8"
    def item(id: String, size: Long) =
      s"""{"id":"$id","name":"$id.txt","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d8/root:/in"}}"""
    val transport = new PagedScriptTransport(Map(
      s"$base/root/delta" ->
        (s"""{"value":[${item("i1", 3)},${item("i2", 5)},""" +
          """{"id":"i0","name":"gone.txt","deleted":{"state":"deleted"}}],""" +
          s""""@odata.nextLink":"$base/root/delta?page=2"}"""),
      s"$base/root/delta?page=2" ->
        (s"""{"value":[${item("i3", 4)}],""" +
          s""""@odata.deltaLink":"$base/root/delta?token=S1"}""")), Map.empty)
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-stage-budget").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    var staged = (0L, 0L)
    val jobs = jobsIn {
      staged = Streams.discoverIncrementPaged(spark, prov, ck, staging)
    }
    info(s"2-page staging window: $jobs jobs")
    assert(jobs == 0, s"staging ran $jobs Spark jobs")
    assert(staged == ((3L, 1L)))
    def parts(dir: String): Int = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    }
    val window = s"$staging/window=${Streams.stagingWindowTag(None)}"
    assert((parts(window), parts(s"${staging}_window/live"),
      parts(s"${staging}_window/dead")) == ((2, 2, 1)))
    assert(spark.read.parquet(staging).select("id").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().sorted.toSeq ==
      Seq("i1", "i2", "i3"))
    assert(spark.read.parquet(s"${staging}_window/dead").collect()
      .map(_.getString(0)).toSeq == Seq("i0"))
  }

  test("quarantine replacement is atomic: a failed write keeps the prior " +
      "parked set; an older Spark write's part files are replaced whole") {
    val qdir = Files.createTempDirectory("graft-qswap").resolve("q").toString
    val ts = new java.sql.Timestamp(1000L)
    def parked(ids: String*) = ids.map(id => Streams.QuarantinedItem(id,
      s"$id.txt", ts, java.lang.Long.valueOf(3L), "HttpError: 500"))
    def ids() = Streams.readQuarantine(spark, qdir).map(_.source_item_id)
      .sorted
    // an older engine's layout: a Spark write of the set, two parts
    spark.createDataset(parked("a", "b"))(
        org.apache.spark.sql.Encoders.product[Streams.QuarantinedItem])
      .repartition(2).write.parquet(qdir)
    assert(ids() == Seq("a", "b"))
    Streams.writeQuarantine(spark, qdir, parked("b", "c"), parked("a", "b"))
    assert(ids() == Seq("b", "c"))
    assert(spark.read.parquet(qdir).count() == 2,
      "the older write's part files outlived the replacement")
    // a write that fails (a codec the classpath lacks) must leave the
    // prior set readable: its windows have already checkpointed
    val key = "spark.sql.parquet.compression.codec"
    val codec = spark.conf.get(key)
    spark.conf.set(key, "lzo")
    try intercept[Throwable](Streams.writeQuarantine(spark, qdir,
      parked("d"), parked("b", "c")))
    finally spark.conf.set(key, codec)
    assert(ids() == Seq("b", "c"))
    Streams.writeQuarantine(spark, qdir, Nil, parked("b", "c"))
    assert(ids().isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(qdir)))
  }

  test("an isolated drain whose every fetch fails lands nothing: 0 rows, " +
      "no batch directory, no new manifest version") {
    import graft.ingest.BronzeMerge
    import spark.implicits._
    val base = "https://graph.example.test/drives/dq3"
    val transport = new PoisonScriptTransport(Map.empty, Map.empty,
      Set(s"$base/items/i1/content", s"$base/items/i2/content"))
    val table = Files.createTempDirectory("graft-dq3")
      .resolve("bronze").toString
    val ts0 = new java.sql.Timestamp(0L)
    val meta = Seq(("i1", "a.txt", ts0, 3L), ("i2", "b.txt", ts0, 5L))
      .toDF("source_item_id", "file_name", "modified", "size")
    val policy = graft.pipeline.HttpListing.RetryPolicy(maxRetries = 1,
      baseDelayMs = 0)
    // an id-carrying commit already in place, then the all-fail drain
    assert(BronzeMerge.mergeIngestDf(spark,
      Seq(("i0", "z.txt", 1L, ts0, Array[Byte](1)))
        .toDF("source_item_id", "file_name", "length", "modified",
          "content"), table) == 1L)
    val committed = BronzeMerge.currentCommit(spark, table)
    val r = Streams.drainItemsIsolated(spark, transport, base, meta, table,
      policy)
    assert(r.appended == 0L)
    assert(r.failed.map(_.source_item_id) == Seq("i1", "i2"))
    assert(BronzeMerge.currentCommit(spark, table) == committed)
    val dirs = new java.io.File(table).list().filter(_.startsWith("batch-"))
    assert(dirs.toSeq == Seq("batch-00000001"))
  }

  test("delta change stamps ride into bronze: lastModifiedDateTime lands " +
      "as `modified`, a same-length in-place update lands as a NEW " +
      "generation and wins the merge-on-read view, and a replayed drain " +
      "re-lands nothing") {
    // the r14 gap: the drain keyed every row with modified=epoch(0),
    // so an update whose byte LENGTH is unchanged was invisible to the
    // (id, name, length, modified) merge key — silently dropped — and
    // snapshotLatest could not prefer the newer generation. The stamp
    // now rides DeltaItem end-to-end; replays still key identically
    // because it comes from the LISTING, not a clock.
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    val base = "https://graph.example.test/drives/d10"
    val delta1 = s"$base/root/delta?token=ST1"
    val delta2 = s"$base/root/delta?token=ST2"
    val t1 = "2024-01-05T10:00:00Z"
    val t2 = "2024-02-06T11:30:00Z"
    def item(id: String, name: String, size: Long, stamp: String) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        s""""lastModifiedDateTime":"$stamp",""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d10/root:/in"}}"""
    StampGen.n = 1
    val transport = new StampScriptTransport(base, Map(
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "a.txt", 3, t1)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""),
      delta1 ->
        s"""{"value":[${item("i1", "a.txt", 3, t2)}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", "")))
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-stamp").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    def stampOf(s: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(s))

    // window 1: the REAL stamp lands, not an epoch placeholder
    Streams.syncToBronzePaged(spark, prov, ck, staging, transport, base,
      table)
    val r1 = BronzeMerge.snapshot(spark, table)
      .select("modified", "content").collect()
    assert(r1.map(_.getTimestamp(0)).toSeq == Seq(stampOf(t1)))
    assert(new String(r1.head.getAs[Array[Byte]](1), "UTF-8") == "aaa")

    // window 2: same id, same name, SAME LENGTH — only the stamp (and
    // bytes) changed. The new generation must land beside the old and
    // win the merge-on-read view.
    StampGen.n = 2
    Streams.syncToBronzePaged(spark, prov, ck, staging, transport, base,
      table)
    assert(BronzeMerge.snapshot(spark, table).count() == 2,
      "a same-length update must land as a new generation, not vanish")
    val latest = BronzeMerge.snapshotLatest(spark, table)
      .select("modified", "content").collect()
    assert(latest.map(_.getTimestamp(0)).toSeq == Seq(stampOf(t2)))
    assert(new String(latest.head.getAs[Array[Byte]](1), "UTF-8") == "bbb")

    // crash-replay of window 2's drain: the stamp comes from the
    // listing, so the replayed row keys IDENTICALLY and re-lands
    // nothing
    assert(Streams.drainItems(spark, transport, base,
      spark.read.parquet(s"${staging}_window/live"), table) == 0L)
    assert(BronzeMerge.snapshot(spark, table).count() == 2)
  }

  test("window-idempotent staging: a window replayed after a crash " +
      "between staging and checkpoint rewrites its own window= partition " +
      "— exactly one staged row per (id, window), never a double-append") {
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import org.apache.spark.sql.functions.{col, countDistinct, max}
    val base = "https://graph.example.test/drives/d11"
    val delta1 = s"$base/root/delta?token=WI1"
    val delta2 = s"$base/root/delta?token=WI2"
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"text/plain"},""" +
        """"parentReference":{"path":"/drives/d11/root:/in"}}"""
    val transport = new PagedScriptTransport(Map(
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "a.txt", 3)},${item("i2", "b.txt", 5)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""),
      delta1 ->
        s"""{"value":[${item("i3", "c.txt", 4)}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", "")),
      Map.empty)
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-idem-staging").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")

    // attempt 1 CRASHES after the staging write (the drain hook is the
    // post-staging, pre-checkpoint point): rows are staged, the
    // checkpoint never advances
    intercept[RuntimeException] {
      Streams.discoverIncrementPaged(spark, prov, ck, staging,
        drain = _ => throw new RuntimeException("crash before checkpoint"))
    }
    assert(ck.load().isEmpty)
    assert(spark.read.parquet(staging).count() == 2,
      "the crashed attempt staged its window")

    // the replay OVERWRITES the same window partition — the r14
    // staging catalog would hold 4 rows here (append-only double-land)
    Streams.discoverIncrementPaged(spark, prov, ck, staging)
    val afterReplay = spark.read.parquet(staging)
    assert(afterReplay.count() == 2,
      "a replayed window must rewrite its own partition, not append")
    assert(afterReplay.select(countDistinct(col("window")))
      .head().getLong(0) == 1)

    // window 2 lands in its OWN partition; per-(id, window) uniqueness
    // holds across the catalog
    Streams.discoverIncrementPaged(spark, prov, ck, staging)
    val cat = spark.read.parquet(staging)
    assert(cat.count() == 3)
    assert(cat.select(countDistinct(col("window"))).head().getLong(0) == 2)
    assert(cat.groupBy(col("id"), col("window")).count()
      .agg(max(col("count"))).head().getLong(0) == 1L)
  }

  test("large-blob router: a blob past the threshold streams chunk by " +
      "chunk to the Files zone (no slice ever exceeds chunkBytes, no " +
      "whole-body buffer), bronze lands a path-reference row, and the " +
      "id's tombstone removes the zone file with the rows") {
    // reference K1 streams big files into the lakehouse Files area
    // (`sharepoint_to_bronze_delta.py:173-176`); the content-column
    // route is O(file) heap with a 2 GiB Array[Byte] ceiling. The
    // router sends listed-size ≥ threshold items straight to the zone
    // through the chunked range-GET — per-task heap O(chunkBytes).
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import org.apache.spark.sql.functions.col
    val base = "https://graph.example.test/drives/d12"
    val delta1 = s"$base/root/delta?token=LB1"
    val delta2 = s"$base/root/delta?token=LB2"
    val blobSize = 100000
    val chunk = 16384
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"application/octet-stream"},""" +
        """"parentReference":{"path":"/drives/d12/root:/in"}}"""
    def tomb(id: String, name: String) =
      s"""{"id":"$id","name":"$name","deleted":{"state":"deleted"}}"""
    val transport = new RangeBlobTransport(Map(
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "small.txt", 3)},
           |${item("i2", "big.bin", blobSize)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""),
      delta1 ->
        s"""{"value":[${tomb("i2", "big.bin")}],
           |"@odata.deltaLink":"$delta2"}""".stripMargin.replace("\n", ""),
      s"$base/items/i1/content" -> "aaa"),
      s"$base/items/i2/content", blobSize)
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-bigblob").toString
    val staging = s"$work/staging"
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    val zone = s"$work/files"
    RangeStats.reset()

    Streams.syncToBronzePaged(spark, prov, ck, staging, transport, base,
      table, chunkBytes = chunk, filesZone = Some(zone),
      largeBlobBytes = 10000)
    val rows = BronzeMerge.snapshot(spark, table)
      .select("source_item_id", "length", "content", "content_path")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[Array[Byte]](2), r.getString(3)))
      .sortBy(_._1).toSeq
    // small item: inline content, no path; big item: PATH-REFERENCE
    // row — null content, zone path, streamed byte count as length
    assert(rows.map(_._1) == Seq("i1", "i2"))
    assert(new String(rows(0)._3, "UTF-8") == "aaa" && rows(0)._4 == null)
    assert(rows(1)._3 == null && rows(1)._2 == blobSize.toLong &&
      rows(1)._4.endsWith("/i2"))
    // the zone file holds exactly the blob's bytes
    val zf = new java.io.File(s"$zone/i2")
    assert(zf.isFile && zf.length() == blobSize.toLong)
    val bytes = java.nio.file.Files.readAllBytes(zf.toPath)
    assert(bytes(0) == RangeStats.blobByte(0) &&
      bytes(blobSize - 1) == RangeStats.blobByte(blobSize - 1L))
    // O(chunk) evidence: the server never returned a slice past
    // chunkBytes and the whole-body GET was never used for the blob —
    // the transfer was ceil(size/chunk) range slices
    assert(RangeStats.maxSlice <= chunk,
      s"slice ${RangeStats.maxSlice} exceeds chunk $chunk")
    assert(RangeStats.wholeBodyGets == 0,
      "the blob must never be fetched as one body")
    assert(RangeStats.rangeCalls.get() >=
      (blobSize + chunk - 1) / chunk)

    // window 2: i2's tombstone deletes the bronze rows AND the zone
    // file (gated delete semantics extended to the Files zone)
    Streams.syncToBronzePaged(spark, prov, ck, staging, transport, base,
      table, chunkBytes = chunk, filesZone = Some(zone),
      largeBlobBytes = 10000)
    assert(BronzeMerge.snapshot(spark, table)
      .filter(col("source_item_id") === "i2").count() == 0)
    assert(!zf.exists, "the tombstone must remove the zone file")
  }

  test("large-blob router on the driver: a parked large blob that " +
      "recovers in an idle window streams to the Files zone and lands " +
      "its path-reference row") {
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    val base = "https://graph.example.test/drives/d13"
    val delta1 = s"$base/root/delta?token=LR1"
    val blobSize = 50000
    def item(id: String, name: String, size: Long) =
      s"""{"id":"$id","name":"$name","size":$size,""" +
        """"file":{"mimeType":"application/octet-stream"},""" +
        """"parentReference":{"path":"/drives/d13/root:/in"}}"""
    val transport = new OutageRangeBlobTransport(Map(
      s"$base/root/delta" ->
        s"""{"value":[${item("i1", "small.txt", 3)},
           |${item("i2", "big.bin", blobSize)}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", ""),
      delta1 -> s"""{"value":[],"@odata.deltaLink":"$base/root/delta?token=LR2"}""",
      s"$base/items/i1/content" -> "aaa"),
      s"$base/items/i2/content", blobSize)
    val prov = new DeltaListingProvider(base, transport, sleeper = _ => ())
    val work = Files.createTempDirectory("graft-bigblob-retry").toString
    val ck = new DeltaCheckpoint(s"$work/delta-ckpt")
    val table = s"$work/bronze"
    val zone = s"$work/files"
    val qdir = s"$work/quarantine"
    def window() = Streams.syncToBronzePaged(spark, prov, ck,
      s"$work/staging", transport, base, table,
      policy = graft.pipeline.HttpListing.RetryPolicy(maxRetries = 1,
        baseDelayMs = 0), chunkBytes = 16384, quarantineDir = Some(qdir),
      filesZone = Some(zone), largeBlobBytes = 10000)
    FetchOutage.broken = true
    try window() finally FetchOutage.broken = false
    assert(Streams.readQuarantine(spark, qdir).map(_.source_item_id) ==
      Seq("i2"))
    val version = BronzeMerge.currentCommit(spark, table)._1
    assert(window() == ((0L, 0L)))
    assert(BronzeMerge.currentCommit(spark, table)._1 == version + 1)
    assert(Streams.readQuarantine(spark, qdir).isEmpty)
    val big = BronzeMerge.snapshot(spark, table)
      .filter(org.apache.spark.sql.functions.col("source_item_id") === "i2")
      .select("length", "content", "content_path").collect()
    assert(big.length == 1 && big(0).getLong(0) == blobSize.toLong &&
      big(0).isNullAt(1) && big(0).getString(2).endsWith("/i2"))
    val zf = new java.io.File(s"$zone/i2")
    assert(zf.isFile && zf.length() == blobSize.toLong)
  }

  test("backfillIds migrates a legacy id-less bronze table: tombstones " +
      "against it are a loud no-op, the backfill joins ids from the " +
      "staged catalog, and the SAME tombstone window then deletes") {
    // the upgrade hazard ADVICE names: round-14 deletes are
    // exclusively id-keyed, so a table built by the pre-id release
    // silently stops propagating source deletions. The sync path now
    // warns loudly and skips the guaranteed-no-op scan; backfillIds
    // is the one-shot migration that re-arms deletes.
    import graft.ingest.BronzeMerge
    import graft.pipeline.{DeltaCheckpoint, DeltaListingProvider}
    import spark.implicits._
    val base = "https://graph.example.test/drives/d13"
    val delta1 = s"$base/root/delta?token=BF1"
    def tomb(id: String, name: String) =
      s"""{"id":"$id","name":"$name","deleted":{"state":"deleted"}}"""
    val transport = new PagedScriptTransport(Map(
      s"$base/root/delta" ->
        s"""{"value":[${tomb("i1", "a.txt")}],
           |"@odata.deltaLink":"$delta1"}""".stripMargin.replace("\n", "")),
      Map.empty)
    val work = Files.createTempDirectory("graft-backfill").toString
    val table = s"$work/bronze"
    val ts0 = new java.sql.Timestamp(0L)
    // a LEGACY table: two files landed without source ids
    BronzeMerge.mergeIngestDf(spark,
      Seq(("a.txt", 3L, ts0, "aaa".getBytes("UTF-8")),
        ("b.txt", 5L, ts0, "bbbbb".getBytes("UTF-8")))
        .toDF("file_name", "length", "modified", "content"), table)
    assert(!BronzeMerge.carriesIds(spark, table))

    // tombstone window vs the legacy table: loud no-op, nothing dies
    Streams.discoverIncrementPaged(spark,
      new DeltaListingProvider(base, transport, sleeper = _ => ()),
      new DeltaCheckpoint(s"$work/ck1"), s"$work/staging", Some(table))
    assert(BronzeMerge.snapshot(spark, table).count() == 2)

    // migrate: ids from the staged catalog's (id, name, size) shape
    val mapping = Seq(("i1", "a.txt", 3L), ("i2", "b.txt", 5L))
      .toDF("source_item_id", "file_name", "length")
    val (v, filled) = BronzeMerge.backfillIds(spark, table, mapping)
    assert(filled == 2L && BronzeMerge.carriesIds(spark, table))
    // idempotent: a second run touches nothing
    assert(BronzeMerge.backfillIds(spark, table, mapping) == (v, 0L))
    // identity keys survived the rewrite: the same files still dedupe
    assert(BronzeMerge.mergeIngestDf(spark,
      Seq(("a.txt", 3L, ts0, "aaa".getBytes("UTF-8")))
        .toDF("file_name", "length", "modified", "content"), table) == 0L)

    // the SAME tombstone window from a fresh checkpoint now deletes
    Streams.discoverIncrementPaged(spark,
      new DeltaListingProvider(base, transport, sleeper = _ => ()),
      new DeltaCheckpoint(s"$work/ck2"), s"$work/staging", Some(table))
    val left = BronzeMerge.snapshot(spark, table)
      .select("file_name").collect().map(_.getString(0)).toSeq
    assert(left == Seq("b.txt"),
      "the backfilled id must make the tombstone match")
    // an ambiguous mapping fails loudly instead of guessing
    val dup = Seq(("x1", "c.txt", 7L), ("x2", "c.txt", 7L))
      .toDF("source_item_id", "file_name", "length")
    intercept[IllegalArgumentException] {
      BronzeMerge.backfillIds(spark, table, dup)
    }
  }

  test("e35's disorder audit sizes the hourlyCounts watermark: the " +
      "jitter-ceiling delay drops nothing, a 60 s delay drops exactly " +
      "the batch-predicted rows") {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // a DENSE synthetic stream (5 s cadence, 3 h) under e35's planted
    // jitter EXPRESSION, replayed in arrival order. Density matters:
    // the fixture events are minutes apart, so a ≤300 s jitter never
    // reorders them across micro-batch boundaries and no delay would
    // drop anything — the parity claim needs a stream whose disorder
    // scale exceeds the batching granularity.
    val baseUs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      .getTime * 1000L
    val evs = spark.range(2160)
      .select(
        timestamp_micros(lit(baseUs) + col("id") * 5000000L).as("ts"),
        (lit(baseUs) + col("id") * 5000000L +
          graft.ops.Events.plantedJitterUs(col("id"))).as("arr_us"))
      .orderBy("arr_us", "ts")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    val chunks = evs.grouped(30).toSeq // 72 micro-batches
    def tUs(t: Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    // Spark's drop rule for streaming aggregation: an input row is
    // discarded iff its WINDOW has already been finalized — window
    // end ≤ the watermark in force for the batch, where the watermark
    // is (max event time over all PRIOR batches) − delay and advances
    // only between micro-batches (late rows still advance it).
    def predictDropped(delayUs: Long): Long = {
      var maxTs = Long.MinValue
      var drops = 0L
      chunks.foreach { c =>
        val wm = if (maxTs == Long.MinValue) Long.MinValue
          else maxTs - delayUs
        c.foreach { case (t, _) =>
          val winEnd = Math.floorDiv(tUs(t), 3600000000L) *
            3600000000L + 3600000000L
          if (winEnd <= wm) drops += 1
        }
        maxTs = math.max(maxTs, c.map(p => tUs(p._1)).max)
      }
      drops
    }
    var qn = 0
    def streamKept(delay: String): Long = {
      qn += 1
      val name = s"wmaudit$qn"
      val ms = MemoryStream[Streams.Ev]
      val q = Streams.hourlyCounts(ms.toDF, watermark = delay)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c =>
          ms.addData(c.map { case (t, _) => Streams.Ev(1, t) }: _*)
          q.processAllAvailable()
        }
        // far-future sentinel finalizes every real window; its own
        // window never closes, so it is absent from append output
        ms.addData(Streams.Ev(1, ts("2030-01-01 00:00:00")))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).agg(org.apache.spark.sql.functions
        .sum(col("n"))).collect()(0).getLong(0)
    }
    // delay = the e35 jitter ceiling (300 s): the audit's max_late_s
    // bound proves NO event can be behind the watermark → zero drops
    assert(predictDropped(300000000L) == 0L)
    assert(streamKept("300 seconds") == evs.length.toLong)
    // delay = 60 s: drops happen (the audit's n_late_60s says so) and
    // the stream keeps exactly what the batch replay predicts
    val predicted = predictDropped(60000000L)
    assert(predicted > 0L, "fixture must plant >60s disorder")
    assert(streamKept("60 seconds") == evs.length.toLong - predicted)
  }

  test("streaming pHash gate matches brightness-shifted arrivals to " +
      "their corpus twins, bit-for-bit with the batch hasher") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def bmp(id: Long, shift: Int): Array[Byte] = {
      val (w, h) = (16, 16)
      val rowSize = ((3 * w + 3) / 4) * 4
      val buf = java.nio.ByteBuffer.allocate(54 + rowSize * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
        .putInt(0).putInt(54).putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(24).putInt(0).putInt(rowSize * h)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- h - 1 to 0 by -1) {
        for (x <- 0 until w; c <- 0 until 3)
          buf.put(((x * 7 + y * 11 + c * 31 + id.toInt * 13) % 200
            + shift).toByte)
        for (_ <- 3 * w until rowSize) buf.put(0: Byte)
      }
      buf.array()
    }
    val corpusHashes = (0L until 10L).map { id =>
      val r = graft.ops.Multimodal.decodeBmpPhash(id, bmp(id, 0))
      (r.doc_id, r.phash)
    }
    val corpus = corpusHashes.toDF("doc_id", "phash")
    // arrivals: brightness+7 twins of corpus 2 and 5 (pHash-identical
    // by the m23 theorem) plus one unrelated image
    val arrivals = Seq(
      (102L, bmp(2, 7)), (200L, bmp(77, 0)), (105L, bmp(5, 7)))
    // brute batch expectation over full 63-bit Hamming
    val expected = (for {
      (aid, bs) <- arrivals
      ah = graft.ops.Multimodal.decodeBmpPhash(aid, bs).phash
      (cid, ch) <- corpusHashes
      ham = java.lang.Long.bitCount(ah ^ ch)
      if ham <= 3
    } yield (aid, cid, ham)).toSet
    assert(expected.contains((102L, 2L, 0)) &&
      expected.contains((105L, 5L, 0)), "twins must plant matches")
    val ms = MemoryStream[(Long, Array[Byte])]
    val q = Streams.phashMatches(ms.toDS, corpus)
      .writeStream.format("memory").queryName("phashgate")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(arrivals(0), arrivals(1))
      q.processAllAvailable()
      ms.addData(arrivals(2))
      q.processAllAvailable()
    } finally q.stop()
    val gotRows = spark.table("phashgate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val got = gotRows.toSet
    assert(got == expected, s"streamed $got vs batch $expected")
    // the stateless lowest-matching-band filter must emit each pair
    // exactly ONCE even when twins share all 4 bands (identical
    // hashes) — a multiset duplicate would hide inside the set compare
    assert(gotRows.size == expected.size,
      s"duplicate emissions: $gotRows")
  }

  test("pHash gate redelivery contract: a replayed arrival re-emits " +
      "exactly its own pairs once per delivery — duplicates are bounded " +
      "to re-delivered batches, never amplified") {
    // the documented REDELIVERY CONTRACT on Streams.phashMatches: the
    // gate is stateless (no cross-batch dedup state accreting one row
    // per pair forever), so an at-least-once source replaying an
    // arrival re-emits its matches — and ONLY its matches, exactly
    // once per delivery. Quarantine consumers upsert on
    // (doc_id, corpus_doc) (the BronzeMerge discipline), so bounded
    // re-emission is absorbed; what must never happen is emission
    // growth beyond the delivery count (state-leak or cross-product).
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def bmp(id: Long, shift: Int): Array[Byte] = {
      val (w, h) = (16, 16)
      val rowSize = ((3 * w + 3) / 4) * 4
      val buf = java.nio.ByteBuffer.allocate(54 + rowSize * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
        .putInt(0).putInt(54).putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(24).putInt(0).putInt(rowSize * h)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- h - 1 to 0 by -1) {
        for (x <- 0 until w; c <- 0 until 3)
          buf.put(((x * 7 + y * 11 + c * 31 + id.toInt * 13) % 200
            + shift).toByte)
        for (_ <- 3 * w until rowSize) buf.put(0: Byte)
      }
      buf.array()
    }
    val corpus = (0L until 6L).map { id =>
      val r = graft.ops.Multimodal.decodeBmpPhash(id, bmp(id, 0))
      (r.doc_id, r.phash)
    }.toDF("doc_id", "phash")
    val twin3 = (103L, bmp(3, 7)) // matches corpus 3
    val twin4 = (104L, bmp(4, 7)) // matches corpus 4
    val ms = MemoryStream[(Long, Array[Byte])]
    val q = Streams.phashMatches(ms.toDS, corpus)
      .writeStream.format("memory").queryName("phashreplay")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(twin3, twin4) // delivery 1: both
      q.processAllAvailable()
      ms.addData(twin3) // delivery 2: twin3 REPLAYED
      q.processAllAvailable()
      ms.addData(twin3) // delivery 3: twin3 replayed again
      q.processAllAvailable()
    } finally q.stop()
    val byPair = spark.table("phashreplay").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(byPair == Map((103L, 3L) -> 3, (104L, 4L) -> 1),
      s"emissions must equal delivery counts exactly, got $byPair")
  }
}

/** Which content generation the sync test's scripted server is
  * serving. A module value, NOT test-local state: [[SyncScriptTransport]]
  * serializes into executor fetch tasks, and in local mode the
  * deserialized copy resolves back to this singleton (readResolve),
  * so the driver's generation flip is visible to every task. */
private object SyncGen { @volatile var n = 1 }

/** Fully-scripted transport (listing pages + item content), top-level
  * so serializing it into executor fetch tasks captures no suite
  * `$outer`. */
private class PagedScriptTransport(script: Map[String, String],
    content: Map[String, String])
    extends graft.pipeline.HttpListing.Transport {
  import graft.pipeline.HttpListing.HttpResponse
  override def get(url: String): HttpResponse =
    script.get(url).orElse(content.get(url)).map(HttpResponse(200, _))
      .getOrElse(throw new AssertionError(s"unexpected $url"))
}

/** Module-held outage switch for the fault-injection sync test (the
  * [[SyncGen]] pattern: a singleton resolves to the live JVM value in
  * executor tasks, so the driver's flip is visible everywhere). */
private object FetchOutage { @volatile var broken = false }

/** [[PagedScriptTransport]] whose `outageUrl` serves terminal 500s
  * while [[FetchOutage.broken]] holds. */
private class OutageScriptTransport(script: Map[String, String],
    content: Map[String, String], outageUrl: String)
    extends PagedScriptTransport(script, content) {
  import graft.pipeline.HttpListing.HttpResponse
  override def get(url: String): HttpResponse =
    if (url == outageUrl && FetchOutage.broken)
      HttpResponse(500, "storage backend unavailable")
    else super.get(url)
}

/** [[PagedScriptTransport]] whose `poison` URLs always answer a
  * terminal 500 — items that can only ever be quarantined. */
private class PoisonScriptTransport(script: Map[String, String],
    content: Map[String, String], poison: Set[String])
    extends PagedScriptTransport(script, content) {
  import graft.pipeline.HttpListing.HttpResponse
  override def get(url: String): HttpResponse =
    if (poison.contains(url)) HttpResponse(500, "corrupt blob")
    else super.get(url)
}

/** Content generation for the stamp test's scripted server (the
  * [[SyncGen]] pattern — module value, visible to executor tasks). */
private object StampGen { @volatile var n = 1 }

/** Scripted transport for the change-stamp test: listing URLs from
  * the script, i1's content generation-dependent via [[StampGen]]
  * with the SAME byte length both generations (the case the merge
  * key can only split on the stamp). */
private class StampScriptTransport(base: String,
    script: Map[String, String])
    extends graft.pipeline.HttpListing.Transport {
  import graft.pipeline.HttpListing.HttpResponse
  override def get(url: String): HttpResponse = url match {
    case u if script.contains(u) => HttpResponse(200, script(u))
    case u if u == s"$base/items/i1/content" =>
      HttpResponse(200, if (StampGen.n == 1) "aaa" else "bbb")
    case u => throw new AssertionError(s"unexpected $u")
  }
}

/** Shared counters for the large-blob router test (module-held so
  * executor tasks update the live JVM values in local mode). */
private object RangeStats {
  @volatile var maxSlice = 0
  @volatile var wholeBodyGets = 0
  val rangeCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = {
    maxSlice = 0; wholeBodyGets = 0; rangeCalls.set(0)
  }
  /** Deterministic blob byte at offset `i` — generator and verifier
    * share this formula. */
  def blobByte(i: Long): Byte = ((i * 31 + 7) % 251).toByte
}

/** Scripted transport whose `blobUrl` is a `blobSize`-byte resource
  * served ONLY through Range slices (206 + Content-Range), recording
  * the largest slice ever returned and any whole-body GET — the
  * O(chunk) evidence the router test asserts on. */
private class RangeBlobTransport(script: Map[String, String],
    blobUrl: String, blobSize: Int)
    extends graft.pipeline.HttpListing.Transport {
  import graft.pipeline.HttpListing.HttpResponse
  override def get(url: String): HttpResponse =
    if (url == blobUrl) {
      RangeStats.wholeBodyGets += 1
      HttpResponse(200, null, Map.empty,
        Array.tabulate(blobSize)(i => RangeStats.blobByte(i.toLong)))
    } else script.get(url).map(HttpResponse(200, _))
      .getOrElse(throw new AssertionError(s"unexpected $url"))
  override def getRange(url: String, start: Long,
      endIncl: Long): HttpResponse =
    if (url != blobUrl) get(url)
    else if (start >= blobSize) HttpResponse(416, "")
    else {
      RangeStats.rangeCalls.incrementAndGet()
      val end = math.min(endIncl, blobSize - 1L)
      val slice = Array.tabulate((end - start + 1).toInt)(i =>
        RangeStats.blobByte(start + i))
      RangeStats.maxSlice = math.max(RangeStats.maxSlice, slice.length)
      HttpResponse(206, null,
        Map("Content-Range" -> s"bytes $start-$end/$blobSize"), slice)
    }
}

/** [[RangeBlobTransport]] whose blob answers terminal 500s while
  * [[FetchOutage.broken]] holds. */
private class OutageRangeBlobTransport(script: Map[String, String],
    blobUrl: String, blobSize: Int)
    extends RangeBlobTransport(script, blobUrl, blobSize) {
  import graft.pipeline.HttpListing.HttpResponse
  override def get(url: String): HttpResponse =
    if (url == blobUrl && FetchOutage.broken) HttpResponse(500, "down")
    else super.get(url)
  override def getRange(url: String, start: Long,
      endIncl: Long): HttpResponse =
    if (url == blobUrl && FetchOutage.broken) HttpResponse(500, "down")
    else super.getRange(url, start, endIncl)
}

/** Scripted transport for the end-to-end sync test, top-level so
  * serializing it captures no suite `$outer`. Delta listing URLs come
  * from the fixed script; item content is generation-dependent via
  * [[SyncGen]] (i1's bytes change between windows). */
private class SyncScriptTransport(base: String,
    script: Map[String, String])
    extends graft.pipeline.HttpListing.Transport {
  import graft.pipeline.HttpListing.HttpResponse
  override def get(url: String): HttpResponse = url match {
    case u if script.contains(u) => HttpResponse(200, script(u))
    case u if u == s"$base/items/i1/content" =>
      HttpResponse(200, if (SyncGen.n == 1) "aaa" else "aaaaaa")
    case u if u == s"$base/items/i2/content" =>
      HttpResponse(200, "bbbbb")
    case u => throw new AssertionError(s"unexpected $u")
  }
}
